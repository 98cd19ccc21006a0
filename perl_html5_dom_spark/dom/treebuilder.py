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
"""

from __future__ import annotations

from .constants import (
    BLOCK_START,
    ELEMENT_NODE,
    FOREIGN_ATTR_ADJUSTMENTS,
    FOREIGN_BREAKOUT,
    FORMATTING_TAGS,
    HEADING_TAGS,
    HTML_INTEGRATION_SVG,
    IMPLIED_END_TAGS,
    IMPLIED_END_TAGS_THOROUGH,
    MATHML_TEXT_INTEGRATION,
    NS_HTML,
    NS_MATHML,
    NS_SVG,
    RAWTEXT_TAGS,
    RCDATA_TAGS,
    SPECIAL_HTML,
    SPECIAL_MATHML,
    SPECIAL_SVG,
    SVG_TAG_ADJUSTMENTS,
    VOID_TAGS,
    adjust_foreign_attrs,
)
from .document import NULL, Document
from .tokenizer import Tokenizer

_WS = "\t\n\x0c "
MARKER = ("MARKER",)

_CLOSE_P_BLOCKS = BLOCK_START  # same list for the end-tag variant


class TreeBuilder:
    def __init__(self, scripts: bool = True, ignore_whitespace: bool = False,
                 ignore_doctype: bool = False) -> None:
        #: reference parser options (DOM.pod:3234-3244)
        self.scripts = scripts
        self.ignore_whitespace = ignore_whitespace
        self.ignore_doctype = ignore_doctype
        self.doc: Document = None  # type: ignore[assignment]
        self.tok: Tokenizer = None  # type: ignore[assignment]
        self.stack: list[int] = []
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
        # tree/stack; false ⇒ allow_cdata is trivially false (hot loop)
        self._has_foreign = False

    # ==================================================================
    # public API
    # ==================================================================
    def parse(self, src: str) -> Document:
        self.doc = Document()
        self.doc.scripting = self.scripts
        self.tok = Tokenizer(src)
        self._run()
        return self.doc

    def parse_fragment(self, src: str, context_tag: str = "div",
                       context_ns: int = NS_HTML,
                       doc: Document | None = None) -> tuple[Document, int]:
        """Fragment parsing (WHATWG §13.4). Returns (doc, fragment_node)."""
        self.doc = doc if doc is not None else Document()
        self.doc.scripting = self.scripts
        self.tok = Tokenizer(src)
        self.fragment_context_tag = context_tag
        self.fragment_context_ns = context_ns
        if context_ns != NS_HTML:
            self._has_foreign = True
        frag = self.doc.new_fragment()
        root = self.doc.new_element("html")
        self.doc.append_child(frag, root)
        self.stack = [root]
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
        self._run(fragment=True)
        # re-home children from the synthetic root onto the fragment node
        for c in self.doc.children(root):
            self.doc.append_child(frag, c)
        self.doc.remove(root)
        self.doc.fragment_context = context_tag
        return self.doc, frag

    # ==================================================================
    # main loop
    # ==================================================================
    def _run(self, fragment: bool = False) -> None:
        self.done = False
        if not fragment:
            self.stack = []
            self.mode = "initial"
        pending = self.pending
        tok = self.tok
        dispatch = self._dispatch
        while not self.done:
            if pending:
                token = pending.pop()
            else:
                # allow_cdata can only be true with a foreign element on
                # the stack; _has_foreign is a sticky cheap pre-filter
                tok.allow_cdata = (
                    self._has_foreign and self._in_foreign_cdata_context())
                token = tok.next_token()
            if self.ignore_whitespace and token[0] == "char" \
                    and not token[1].strip(_WS):
                continue
            dispatch(token)

    def _reprocess(self, token) -> None:
        self.pending.append(token)

    def _in_foreign_cdata_context(self) -> bool:
        node = self._adjusted_current_node()
        return node != NULL and self.doc.ns[node] != NS_HTML

    def _adjusted_current_node(self) -> int:
        if not self.stack:
            return NULL
        if len(self.stack) == 1 and self.fragment_context_tag is not None:
            # fragment case: adjusted current node = context element
            return self.stack[0] if self.fragment_context_ns == NS_HTML else self.stack[0]
        return self.stack[-1]

    # ==================================================================
    # dispatcher (HTML vs foreign content)
    # ==================================================================
    def _dispatch(self, token) -> None:
        tt = token[0]
        stack = self.stack
        if not stack or tt == "eof":
            self._process(token)
            return
        doc = self.doc
        node = stack[-1]
        ns = doc.ns[node]
        # hot path: plain HTML context, no fragment override
        if ns == NS_HTML and (
            self.fragment_context_tag is None or len(stack) != 1
        ):
            self._process(token)
            return
        tag = doc.tag[node]
        if len(stack) == 1 and self.fragment_context_tag is not None:
            ns, tag = self.fragment_context_ns, self.fragment_context_tag
        if ns == NS_HTML:
            self._process(token)
            return
        # integration points
        if ns == NS_MATHML and tag in MATHML_TEXT_INTEGRATION:
            if tt == "char" or (tt == "start" and token[1] not in ("mglyph", "malignmark")):
                self._process(token)
                return
        if ns == NS_MATHML and tag == "annotation-xml" and tt == "start" and token[1] == "svg":
            self._process(token)
            return
        if self._is_html_integration(node, ns, tag):
            if tt in ("char", "start"):
                self._process(token)
                return
        self._foreign(token)

    def _is_html_integration(self, node: int, ns: int, tag: str) -> bool:
        if ns == NS_SVG and tag in ("foreignObject", "desc", "title"):
            return True
        if ns == NS_MATHML and tag == "annotation-xml":
            attrs = self.doc.attrs[node] or {}
            enc = attrs.get("encoding", "").lower()
            return enc in ("text/html", "application/xhtml+xml")
        return False

    # ==================================================================
    # insertion helpers
    # ==================================================================
    def _insert_location(self) -> tuple[int, int]:
        """(parent, before_node|NULL) honoring foster parenting."""
        doc = self.doc
        target = self.stack[-1]
        if self.foster_parenting and doc.tag[target] in (
            "table", "tbody", "tfoot", "thead", "tr",
        ):
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
        doc = self.doc
        tag = tag_override if tag_override is not None else token[1]
        if attrs_override is not None:
            attrs = attrs_override
        else:
            attrs = dict(token[2]) if token[2] else None
        if ns != NS_HTML:
            self._has_foreign = True
        nid = doc.new_element(tag, ns, attrs)
        doc.self_closed[nid] = bool(token[3]) if len(token) > 3 else False
        if len(token) >= 8:
            doc.raw_begin[nid] = token[4]
            doc.raw_length[nid] = token[5]
            doc.elem_begin[nid] = token[6]
            doc.elem_length[nid] = token[7]
        self._insert_node(nid)
        self.stack.append(nid)
        return nid

    def _insert_text(self, text: str) -> None:
        if not text:
            return
        doc = self.doc
        parent, before = self._insert_location()
        # merge with adjacent text node (myhtml merges runs too)
        if before != NULL:
            prev = doc.prev_sib[before]
        else:
            prev = doc.last_child[parent]
        if prev != NULL and doc.node_type[prev] == 3:
            doc.text[prev] = (doc.text[prev] or "") + text
            return
        nid = doc.new_text(text)
        if before != NULL:
            doc.insert_before(before, nid)
        else:
            doc.append_child(parent, nid)

    def _insert_comment(self, token, parent: int | None = None) -> None:
        nid = self.doc.new_comment(token[1])
        if len(token) >= 6:
            self.doc.raw_begin[nid] = token[2]
            self.doc.raw_length[nid] = token[3]
            self.doc.elem_begin[nid] = token[4]
            self.doc.elem_length[nid] = token[5]
        if parent is not None:
            self.doc.append_child(parent, nid)
        else:
            self._insert_node(nid)

    # ==================================================================
    # stack / scope utilities
    # ==================================================================
    def _current_tag(self) -> str:
        n = self.stack[-1]
        return self.doc.tag[n]

    def _has_in_scope(self, target, extra: frozenset = frozenset(),
                      invert: bool = False) -> bool:
        """WHATWG 'has an element in scope'. target: str or set."""
        targets = {target} if isinstance(target, str) else target
        doc = self.doc
        for n in reversed(self.stack):
            tag, ns = doc.tag[n], doc.ns[n]
            if ns == NS_HTML and tag in targets:
                return True
            if invert:
                if not (ns == NS_HTML and tag in ("optgroup", "option")):
                    return False
            else:
                if ns == NS_HTML and (
                    tag in ("applet", "caption", "html", "table", "td", "th",
                            "marquee", "object", "template") or tag in extra
                ):
                    return False
                if ns == NS_MATHML and tag in MATHML_TEXT_INTEGRATION | {"annotation-xml"}:
                    return False
                if ns == NS_SVG and tag in HTML_INTEGRATION_SVG:
                    return False
        return False

    def _in_scope(self, t):
        return self._has_in_scope(t)

    def _in_list_scope(self, t):
        return self._has_in_scope(t, extra=frozenset(("ol", "ul")))

    def _in_button_scope(self, t):
        return self._has_in_scope(t, extra=frozenset(("button",)))

    def _in_table_scope(self, t):
        targets = {t} if isinstance(t, str) else t
        doc = self.doc
        for n in reversed(self.stack):
            tag, ns = doc.tag[n], doc.ns[n]
            if ns != NS_HTML:
                continue
            if tag in targets:
                return True
            if tag in ("html", "table", "template"):
                return False
        return False

    def _in_select_scope(self, t):
        return self._has_in_scope(t, invert=True)

    def _pop_until(self, target) -> None:
        targets = {target} if isinstance(target, str) else target
        doc = self.doc
        while self.stack:
            n = self.stack.pop()
            if doc.ns[n] == NS_HTML and doc.tag[n] in targets:
                return

    def _generate_implied_end_tags(self, exclude: str | None = None,
                                   thorough: bool = False) -> None:
        tags = IMPLIED_END_TAGS_THOROUGH if thorough else IMPLIED_END_TAGS
        doc = self.doc
        while self.stack:
            n = self.stack[-1]
            t = doc.tag[n]
            if doc.ns[n] == NS_HTML and t in tags and t != exclude:
                self.stack.pop()
            else:
                return

    def _close_p(self) -> None:
        if self._in_button_scope("p"):
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
        count = 0
        for entry in reversed(self.afe):
            if entry is MARKER:
                break
            if entry[1] == tag and (entry[2] or {}) == (attrs or {}):
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
        if last is MARKER or last[0] in self.stack:
            return
        i = len(afe) - 1
        while i > 0:
            i -= 1
            entry = afe[i]
            if entry is MARKER or entry[0] in self.stack:
                i += 1
                break
        self.doc.misnested = True
        while i < len(afe):
            entry = afe[i]
            nid = self.doc.new_element(entry[1], NS_HTML,
                                       dict(entry[2]) if entry[2] else None)
            self._insert_node(nid)
            self.stack.append(nid)
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
                in_afe = any(e is not MARKER and e[0] == cur for e in self.afe)
                if not in_afe:
                    self.stack.pop()
                    return
        self.doc.misnested = True
        for _ in range(8):  # outer loop
            entry = self._afe_find(tag)
            if entry is None:
                self._any_other_end_tag(tag)
                return
            fmt_elt = entry[0]
            if fmt_elt not in self.stack:
                self.afe.remove(entry)
                return
            if not self._in_scope(tag):
                return
            # find furthest block: lowest stack element above fmt_elt
            # that is special
            idx = self.stack.index(fmt_elt)
            furthest = None
            for i in range(idx + 1, len(self.stack)):
                if self._is_special(self.stack[i]):
                    furthest = i
                    break
            if furthest is None:
                # pop up to and including fmt element; remove from afe
                del self.stack[idx:]
                self.afe.remove(entry)
                return
            common_ancestor = self.stack[idx - 1]
            bookmark = self.afe.index(entry)
            node_i = furthest
            node = self.stack[node_i]
            # the furthest block must be tracked by NODE: the inner loop
            # removes stack entries, so the index goes stale
            fb = self.stack[furthest]
            last_node = fb
            inner = 0
            while True:  # inner loop
                inner += 1
                node_i -= 1
                node = self.stack[node_i]
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
                    self.stack.remove(node)
                    continue
                # create clone of node
                clone = doc.new_element(doc.tag[node], doc.ns[node],
                                        dict(doc.attrs[node]) if doc.attrs[node] else None)
                node_entry[0] = clone
                self.stack[self.stack.index(node)] = clone
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
            self.stack.remove(fmt_elt)
            self.stack.insert(self.stack.index(fb) + 1, clone)

    def _insert_relative_to(self, target: int, node: int) -> None:
        """Appropriate place for inserting relative to a given target
        (used by AAA step 14) — honors foster parenting for tables."""
        doc = self.doc
        if doc.tag[target] in ("table", "tbody", "tfoot", "thead", "tr") and \
                doc.ns[target] == NS_HTML:
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
        doc = self.doc
        for i in range(len(self.stack) - 1, -1, -1):
            n = self.stack[i]
            if doc.tag[n] == tag and doc.ns[n] == NS_HTML:
                self._generate_implied_end_tags(exclude=tag)
                del self.stack[i:]
                return
            if self._is_special(n):
                return

    # ==================================================================
    # insertion-mode machinery
    # ==================================================================
    # insertion mode: assignments resolve the handler once (hot path —
    # _process runs per token; getattr+concat there measured ~4% of parse)
    @property
    def mode(self) -> str:
        return self._mode

    @mode.setter
    def mode(self, m: str) -> None:
        self._mode = m
        self._mode_fn = getattr(self, "_mode_" + m)

    def _process(self, token) -> None:
        self._mode_fn(token)

    def _reset_insertion_mode(self) -> None:
        doc = self.doc
        for i in range(len(self.stack) - 1, -1, -1):
            n = self.stack[i]
            last = i == 0
            tag = doc.tag[n]
            if last and self.fragment_context_tag is not None:
                tag = self.fragment_context_tag
            elif doc.ns[n] != NS_HTML:
                # every case below names an HTML element; a foreign node
                # (e.g. a MathML <template>) matches none of them and
                # must fall through (round-4 fuzz find: a math template
                # selected the in-template mode with no template modes)
                if last:
                    self.mode = "in_body"
                    return
                continue
            if tag == "select":
                self.mode = "in_select"
                if not last:
                    for j in range(i - 1, 0, -1):
                        at = doc.tag[self.stack[j]]
                        if at == "template":
                            break
                        if at == "table":
                            self.mode = "in_select_in_table"
                            break
                return
            if tag in ("td", "th") and not last:
                self.mode = "in_cell"
                return
            if tag == "tr":
                self.mode = "in_row"
                return
            if tag in ("tbody", "thead", "tfoot"):
                self.mode = "in_table_body"
                return
            if tag == "caption":
                self.mode = "in_caption"
                return
            if tag == "colgroup":
                self.mode = "in_column_group"
                return
            if tag == "table":
                self.mode = "in_table"
                return
            if tag == "template":
                self.mode = self.template_modes[-1] if self.template_modes else "in_template"
                return
            if tag == "head" and not last:
                self.mode = "in_head"
                return
            if tag == "body":
                self.mode = "in_body"
                return
            if tag == "frameset":
                self.mode = "in_frameset"
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
        pl = (public or "").lower()
        sl = (system or "").lower()
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
        self.stack.append(nid)
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
            self.stack.pop()  # head
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
                self.stack.pop()
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
                self.stack.pop()
                self.mode = "after_head"
                return
            if tag == "template":
                self._end_template()
                return
            if tag not in ("body", "html", "br"):
                return
        self.stack.pop()
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
                self.stack.pop()
                self.mode = "in_head"
                return
            if token[1] != "br":
                return
        # anything else: pop the noscript, reprocess in head
        self.stack.pop()
        self.mode = "in_head"
        self._reprocess(token)

    def _end_template(self) -> None:
        if not any(self.doc.tag[n] == "template" and self.doc.ns[n] == NS_HTML
                       for n in self.stack):
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
                self.stack.append(self.head_id)
                self._mode_in_head(token)
                if self.head_id in self.stack:
                    self.stack.remove(self.head_id)
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
        doc = self.doc
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
            self._reconstruct_afe()
            self._insert_text(text)
            if text.strip(_WS):
                self.frameset_ok = False
            return
        self.skip_newline = False
        if tt == "comment":
            self._insert_comment(token)
            return
        if tt == "doctype":
            return
        if tt == "eof":
            if self.template_modes:
                # spec: process per the "in template" rules — its
                # no-template-on-stack branch is the fragment-case
                # stop (a direct _end_template here would early-return
                # without consuming a mode and loop forever)
                self._mode_in_template(token)
                return
            self.done = True
            return
        if tt == "start":
            self._in_body_start(token)
        else:
            self._in_body_end(token)

    def _in_body_start(self, token) -> None:
        doc = self.doc
        tag = token[1]
        if tag == "html":
            if any(doc.tag[n] == "template" and doc.ns[n] == NS_HTML
                              for n in self.stack):
                return
            top = self.stack[0]
            attrs = doc.attrs[top]
            for k, v in token[2]:
                if attrs is None:
                    attrs = {}
                    doc.attrs[top] = attrs
                if k not in attrs:
                    attrs[k] = v
            return
        if tag in ("base", "basefont", "bgsound", "link", "meta", "noframes",
                   "script", "style", "template", "title", "noscript"):
            if tag == "noscript" and not self.scripts:
                # scripting disabled: ordinary element in body (WHATWG
                # "in body", noscript branch applies only when enabled)
                self._reconstruct_afe()
                self._insert_element(token)
                return
            self._mode_in_head(token)
            return
        if tag == "body":
            if len(self.stack) < 2 or doc.tag[self.stack[1]] != "body" or \
                    any(doc.tag[n] == "template" and doc.ns[n] == NS_HTML
                              for n in self.stack):
                return
            self.frameset_ok = False
            body = self.stack[1]
            attrs = doc.attrs[body]
            for k, v in token[2]:
                if attrs is None:
                    attrs = {}
                    doc.attrs[body] = attrs
                if k not in attrs:
                    attrs[k] = v
            return
        if tag == "frameset":
            if len(self.stack) < 2 or doc.tag[self.stack[1]] != "body" or \
                    not self.frameset_ok:
                return
            body = self.stack[1]
            if doc.parent[body] != NULL:
                doc.remove(body)
            del self.stack[1:]
            self._insert_element(token)
            self.mode = "in_frameset"
            return
        if tag in BLOCK_START:
            self._close_p()
            self._insert_element(token)
            return
        if tag in HEADING_TAGS:
            self._close_p()
            if self._current_tag() in HEADING_TAGS:
                self.stack.pop()
            self._insert_element(token)
            return
        if tag in ("pre", "listing"):
            self._close_p()
            self._insert_element(token)
            self.skip_newline = True
            self.frameset_ok = False
            return
        if tag == "form":
            in_template = any(doc.tag[n] == "template" and doc.ns[n] == NS_HTML
                              for n in self.stack)
            if self.form_id != NULL and not in_template:
                return
            self._close_p()
            nid = self._insert_element(token)
            if not in_template:
                self.form_id = nid
            return
        if tag == "li":
            self.frameset_ok = False
            for n in reversed(self.stack):
                t = doc.tag[n]
                if t == "li" and doc.ns[n] == NS_HTML:
                    self._generate_implied_end_tags(exclude="li")
                    self._pop_until("li")
                    break
                if self._is_special(n) and t not in ("address", "div", "p"):
                    break
            self._close_p()
            self._insert_element(token)
            return
        if tag in ("dd", "dt"):
            self.frameset_ok = False
            for n in reversed(self.stack):
                t = doc.tag[n]
                if t in ("dd", "dt") and doc.ns[n] == NS_HTML:
                    self._generate_implied_end_tags(exclude=t)
                    self._pop_until(t)
                    break
                if self._is_special(n) and t not in ("address", "div", "p"):
                    break
            self._close_p()
            self._insert_element(token)
            return
        if tag == "plaintext":
            self._close_p()
            self._insert_element(token)
            self.tok.set_rawtext(tag, "plaintext")
            return
        if tag == "button":
            if self._in_scope("button"):
                self._generate_implied_end_tags()
                self._pop_until("button")
            self._reconstruct_afe()
            self._insert_element(token)
            self.frameset_ok = False
            return
        if tag == "a":
            entry = self._afe_find("a")
            if entry is not None:
                self._adoption_agency("a")
                if entry in self.afe:
                    self.afe.remove(entry)
                if entry[0] in self.stack:
                    self.stack.remove(entry[0])
            self._reconstruct_afe()
            nid = self._insert_element(token)
            self._afe_push(nid, tag, doc.attrs[nid])
            return
        if tag in ("b", "big", "code", "em", "font", "i", "s", "small",
                   "strike", "strong", "tt", "u"):
            self._reconstruct_afe()
            nid = self._insert_element(token)
            self._afe_push(nid, tag, doc.attrs[nid])
            return
        if tag == "nobr":
            self._reconstruct_afe()
            if self._in_scope("nobr"):
                self._adoption_agency("nobr")
                self._reconstruct_afe()
            nid = self._insert_element(token)
            self._afe_push(nid, tag, doc.attrs[nid])
            return
        if tag in ("applet", "marquee", "object"):
            self._reconstruct_afe()
            self._insert_element(token)
            self.afe.append(MARKER)
            self.frameset_ok = False
            return
        if tag == "table":
            if not doc.quirks:
                self._close_p()
            self._insert_element(token)
            self.frameset_ok = False
            self.mode = "in_table"
            return
        if tag in ("area", "br", "embed", "img", "keygen", "wbr"):
            self._reconstruct_afe()
            self._insert_element(token)
            self.stack.pop()
            self.frameset_ok = False
            return
        if tag == "input":
            self._reconstruct_afe()
            nid = self._insert_element(token)
            self.stack.pop()
            attrs = doc.attrs[nid] or {}
            if attrs.get("type", "").lower() != "hidden":
                self.frameset_ok = False
            return
        if tag in ("param", "source", "track"):
            self._insert_element(token)
            self.stack.pop()
            return
        if tag == "hr":
            self._close_p()
            self._insert_element(token)
            self.stack.pop()
            self.frameset_ok = False
            return
        if tag == "image":
            self._in_body_start(("start", "img") + token[2:])
            return
        if tag == "textarea":
            self._insert_element(token)
            self.tok.set_rawtext(tag, "rcdata")
            self.skip_newline = True
            self.frameset_ok = False
            self.original_mode = self.mode
            self.mode = "text"
            return
        if tag == "xmp":
            self._close_p()
            self._reconstruct_afe()
            self.frameset_ok = False
            self._insert_element(token)
            self.tok.set_rawtext(tag, "rawtext")
            # generic rawtext algorithm: original mode = CURRENT mode
            # (in-table delegation must restore the table mode, or the
            # following text skips foster parenting — round-4 fuzz find)
            self.original_mode = self.mode
            self.mode = "text"
            return
        if tag == "iframe":
            self.frameset_ok = False
            self._insert_element(token)
            self.tok.set_rawtext(tag, "rawtext")
            self.original_mode = self.mode
            self.mode = "text"
            return
        if tag == "noembed":
            self._insert_element(token)
            self.tok.set_rawtext(tag, "rawtext")
            self.original_mode = self.mode
            self.mode = "text"
            return
        if tag == "select":
            self._reconstruct_afe()
            self._insert_element(token)
            self.frameset_ok = False
            if self.mode in ("in_table", "in_caption", "in_table_body",
                             "in_row", "in_cell"):
                self.mode = "in_select_in_table"
            else:
                self.mode = "in_select"
            return
        if tag in ("optgroup", "option"):
            if self._current_tag() == "option":
                self.stack.pop()
            self._reconstruct_afe()
            self._insert_element(token)
            return
        if tag in ("rb", "rtc"):
            if self._in_scope("ruby"):
                self._generate_implied_end_tags()
            self._insert_element(token)
            return
        if tag in ("rp", "rt"):
            if self._in_scope("ruby"):
                self._generate_implied_end_tags(exclude="rtc")
            self._insert_element(token)
            return
        if tag == "math":
            self._reconstruct_afe()
            attrs = adjust_foreign_attrs(token[2], mathml=True)
            self._insert_element(token, ns=NS_MATHML, attrs_override=attrs)
            if token[3]:
                self.stack.pop()
            return
        if tag == "svg":
            self._reconstruct_afe()
            attrs = adjust_foreign_attrs(token[2], svg=True)
            self._insert_element(token, ns=NS_SVG, attrs_override=attrs)
            if token[3]:
                self.stack.pop()
            return
        if tag in ("caption", "col", "colgroup", "frame", "head", "tbody",
                   "td", "tfoot", "th", "thead", "tr"):
            return
        self._reconstruct_afe()
        self._insert_element(token)

    def _in_body_end(self, token) -> None:
        doc = self.doc
        tag = token[1]
        if tag == "template":
            self._end_template()
            return
        if tag == "body":
            if self._in_scope("body"):
                self.mode = "after_body"
            return
        if tag == "html":
            if self._in_scope("body"):
                self.mode = "after_body"
                self._reprocess(token)
            return
        if tag == "p":
            if not self._in_button_scope("p"):
                self._insert_element(("start", "p", [], False))
            self._close_p()
            return
        if tag == "li":
            if not self._in_list_scope("li"):
                return
            self._generate_implied_end_tags(exclude="li")
            self._pop_until("li")
            return
        if tag in ("dd", "dt"):
            if not self._in_scope(tag):
                return
            self._generate_implied_end_tags(exclude=tag)
            self._pop_until(tag)
            return
        if (tag in _CLOSE_P_BLOCKS and tag != "p") or \
                tag in ("button", "listing", "pre"):
            if not self._in_scope(tag):
                return
            self._generate_implied_end_tags()
            self._pop_until(tag)
            return
        if tag == "form":
            in_template = any(doc.tag[n] == "template" and doc.ns[n] == NS_HTML
                              for n in self.stack)
            if not in_template:
                node = self.form_id
                self.form_id = NULL
                if node == NULL or node not in self.stack or not self._in_scope("form"):
                    return
                self._generate_implied_end_tags()
                if self.stack[-1] != node:
                    # remove-without-popping left elements above the
                    # form open: the tree cannot round-trip through
                    # serialization (the explicit close tags re-parse
                    # differently) — same family as nested forms
                    doc.misnested = True
                self.stack.remove(node)
            else:
                if not self._in_scope("form"):
                    return
                self._generate_implied_end_tags()
                self._pop_until("form")
            return
        if tag in HEADING_TAGS:
            if not self._in_scope(HEADING_TAGS):
                return
            self._generate_implied_end_tags()
            self._pop_until(HEADING_TAGS)
            return
        if tag in FORMATTING_TAGS:
            self._adoption_agency(tag)
            return
        if tag in ("applet", "marquee", "object"):
            if not self._in_scope(tag):
                return
            self._generate_implied_end_tags()
            self._pop_until(tag)
            self._afe_clear_to_marker()
            return
        if tag == "br":
            self._in_body_start(("start", "br", [], False))
            return
        self._any_other_end_tag(tag)

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
            self.stack.pop()
            self.mode = self.original_mode
            self._reprocess(token)
            return
        # end tag
        self.stack.pop()
        self.mode = self.original_mode

    # ------------------------------------------------------------------
    # tables
    # ------------------------------------------------------------------
    def _clear_back_to(self, tags: tuple) -> None:
        doc = self.doc
        while self.stack and not (
            doc.ns[self.stack[-1]] == NS_HTML and doc.tag[self.stack[-1]] in tags
        ):
            self.stack.pop()

    def _mode_in_table(self, token) -> None:
        tt = token[0]
        doc = self.doc
        if tt == "char" and doc.tag[self.stack[-1]] in (
            "table", "tbody", "tfoot", "thead", "tr",
        ):
            self.pending_table_text = []
            self.original_mode = self.mode
            self.mode = "in_table_text"
            self._reprocess(token)
            return
        if tt == "comment":
            self._insert_comment(token)
            return
        if tt == "doctype":
            return
        if tt == "start":
            tag = token[1]
            if tag == "caption":
                self._clear_back_to(("table", "template", "html"))
                self.afe.append(MARKER)
                self._insert_element(token)
                self.mode = "in_caption"
                return
            if tag == "colgroup":
                self._clear_back_to(("table", "template", "html"))
                self._insert_element(token)
                self.mode = "in_column_group"
                return
            if tag == "col":
                self._clear_back_to(("table", "template", "html"))
                self._insert_element(("start", "colgroup", [], False))
                self.mode = "in_column_group"
                self._reprocess(token)
                return
            if tag in ("tbody", "tfoot", "thead"):
                self._clear_back_to(("table", "template", "html"))
                self._insert_element(token)
                self.mode = "in_table_body"
                return
            if tag in ("td", "th", "tr"):
                self._clear_back_to(("table", "template", "html"))
                self._insert_element(("start", "tbody", [], False))
                self.mode = "in_table_body"
                self._reprocess(token)
                return
            if tag == "table":
                if self._in_table_scope("table"):
                    self._pop_until("table")
                    self._reset_insertion_mode()
                    self._reprocess(token)
                return
            if tag in ("style", "script", "template"):
                self._mode_in_head(token)
                return
            if tag == "input":
                attrs = dict(token[2])
                if attrs.get("type", "").lower() == "hidden":
                    self._insert_element(token)
                    self.stack.pop()
                    return
            if tag == "form":
                if self.form_id == NULL and not any(
                    doc.tag[n] == "template" for n in self.stack
                ):
                    nid = self._insert_element(token)
                    self.form_id = nid
                    self.stack.pop()
                return
        if tt == "end":
            tag = token[1]
            if tag == "table":
                if self._in_table_scope("table"):
                    self._pop_until("table")
                    self._reset_insertion_mode()
                return
            if tag in ("body", "caption", "col", "colgroup", "html", "tbody",
                       "td", "tfoot", "th", "thead", "tr"):
                return
            if tag == "template":
                self._end_template()
                return
        if tt == "eof":
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
                self._reconstruct_afe()
                self._insert_text(text)
                self.frameset_ok = False
                self.foster_parenting = False
            else:
                self._insert_text(text)
        self.mode = self.original_mode
        self._reprocess(token)

    def _mode_in_caption(self, token) -> None:
        tt = token[0]
        if tt == "end" and token[1] == "caption":
            self._close_caption()
            return
        if (tt == "start" and token[1] in (
            "caption", "col", "colgroup", "tbody", "td", "tfoot", "th",
            "thead", "tr",
        )) or (tt == "end" and token[1] == "table"):
            if self._in_table_scope("caption"):
                self._close_caption()
                self._reprocess(token)
            return
        if tt == "end" and token[1] in (
            "body", "col", "colgroup", "html", "tbody", "td", "tfoot",
            "th", "thead", "tr",
        ):
            return
        self._mode_in_body(token)

    def _close_caption(self) -> None:
        if not self._in_table_scope("caption"):
            return
        self._generate_implied_end_tags()
        self._pop_until("caption")
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
                self.stack.pop()
                return
            if token[1] == "template":
                self._mode_in_head(token)
                return
        if tt == "end":
            if token[1] == "colgroup":
                if self._current_tag() == "colgroup":
                    self.stack.pop()
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
            self.stack.pop()
            self.mode = "in_table"
            self._reprocess(token)

    def _mode_in_table_body(self, token) -> None:
        tt = token[0]
        if tt == "start":
            tag = token[1]
            if tag == "tr":
                self._clear_back_to(("tbody", "tfoot", "thead", "template", "html"))
                self._insert_element(token)
                self.mode = "in_row"
                return
            if tag in ("th", "td"):
                self._clear_back_to(("tbody", "tfoot", "thead", "template", "html"))
                self._insert_element(("start", "tr", [], False))
                self.mode = "in_row"
                self._reprocess(token)
                return
            if tag in ("caption", "col", "colgroup", "tbody", "tfoot", "thead"):
                if self._in_table_scope({"tbody", "thead", "tfoot"}):
                    self._clear_back_to(("tbody", "tfoot", "thead", "template", "html"))
                    self.stack.pop()
                    self.mode = "in_table"
                    self._reprocess(token)
                return
        if tt == "end":
            tag = token[1]
            if tag in ("tbody", "tfoot", "thead"):
                if self._in_table_scope(tag):
                    self._clear_back_to(("tbody", "tfoot", "thead", "template", "html"))
                    self.stack.pop()
                    self.mode = "in_table"
                return
            if tag == "table":
                if self._in_table_scope({"tbody", "thead", "tfoot"}):
                    self._clear_back_to(("tbody", "tfoot", "thead", "template", "html"))
                    self.stack.pop()
                    self.mode = "in_table"
                    self._reprocess(token)
                return
            if tag in ("body", "caption", "col", "colgroup", "html", "td",
                       "th", "tr"):
                return
        self._mode_in_table(token)

    def _mode_in_row(self, token) -> None:
        tt = token[0]
        if tt == "start":
            tag = token[1]
            if tag in ("th", "td"):
                self._clear_back_to(("tr", "template", "html"))
                self._insert_element(token)
                self.mode = "in_cell"
                self.afe.append(MARKER)
                return
            if tag in ("caption", "col", "colgroup", "tbody", "tfoot",
                       "thead", "tr"):
                if self._in_table_scope("tr"):
                    self._clear_back_to(("tr", "template", "html"))
                    self.stack.pop()
                    self.mode = "in_table_body"
                    self._reprocess(token)
                return
        if tt == "end":
            tag = token[1]
            if tag == "tr":
                if self._in_table_scope("tr"):
                    self._clear_back_to(("tr", "template", "html"))
                    self.stack.pop()
                    self.mode = "in_table_body"
                return
            if tag == "table":
                if self._in_table_scope("tr"):
                    self._clear_back_to(("tr", "template", "html"))
                    self.stack.pop()
                    self.mode = "in_table_body"
                    self._reprocess(token)
                return
            if tag in ("tbody", "tfoot", "thead"):
                if self._in_table_scope(tag):
                    if self._in_table_scope("tr"):
                        self._clear_back_to(("tr", "template", "html"))
                        self.stack.pop()
                        self.mode = "in_table_body"
                    self._reprocess(token)
                return
            if tag in ("body", "caption", "col", "colgroup", "html", "td", "th"):
                return
        self._mode_in_table(token)

    def _mode_in_cell(self, token) -> None:
        tt = token[0]
        if tt == "end":
            tag = token[1]
            if tag in ("td", "th"):
                if self._in_table_scope(tag):
                    self._generate_implied_end_tags()
                    self._pop_until(tag)
                    self._afe_clear_to_marker()
                    self.mode = "in_row"
                return
            if tag in ("body", "caption", "col", "colgroup", "html"):
                return
            if tag in ("table", "tbody", "tfoot", "thead", "tr"):
                if self._in_table_scope(tag):
                    self._close_cell()
                    self._reprocess(token)
                return
        if tt == "start" and token[1] in (
            "caption", "col", "colgroup", "tbody", "td", "tfoot", "th",
            "thead", "tr",
        ):
            if self._in_table_scope({"td", "th"}):
                self._close_cell()
                self._reprocess(token)
            return
        self._mode_in_body(token)

    def _close_cell(self) -> None:
        self._generate_implied_end_tags()
        self._pop_until({"td", "th"})
        self._afe_clear_to_marker()
        self.mode = "in_row"

    # ------------------------------------------------------------------
    # select
    # ------------------------------------------------------------------
    def _mode_in_select(self, token) -> None:
        tt = token[0]
        doc = self.doc
        if tt == "char":
            text = token[1].replace("\x00", "")
            if text:
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
                    self.stack.pop()
                self._insert_element(token)
                return
            if tag == "optgroup":
                if self._current_tag() == "option":
                    self.stack.pop()
                if self._current_tag() == "optgroup":
                    self.stack.pop()
                self._insert_element(token)
                return
            if tag == "hr":
                # current spec (hr-in-select, 2023): pop an open
                # option/optgroup, insert the hr, pop it (void)
                if self._current_tag() == "option":
                    self.stack.pop()
                if self._current_tag() == "optgroup":
                    self.stack.pop()
                self._insert_element(token)
                self.stack.pop()
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
                    self.stack.pop()
                if self._current_tag() == "optgroup":
                    self.stack.pop()
                return
            if tag == "option":
                if self._current_tag() == "option":
                    self.stack.pop()
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
        if tt == "start" and token[1] in (
            "caption", "table", "tbody", "tfoot", "thead", "tr", "td", "th",
        ):
            self._pop_until("select")
            self._reset_insertion_mode()
            self._reprocess(token)
            return
        if tt == "end" and token[1] in (
            "caption", "table", "tbody", "tfoot", "thead", "tr", "td", "th",
        ):
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
            if tag in ("caption", "colgroup", "tbody", "tfoot", "thead"):
                self.template_modes[-1] = "in_table"
                self.mode = "in_table"
                self._reprocess(token)
                return
            if tag == "col":
                self.template_modes[-1] = "in_column_group"
                self.mode = "in_column_group"
                self._reprocess(token)
                return
            if tag == "tr":
                self.template_modes[-1] = "in_table_body"
                self.mode = "in_table_body"
                self._reprocess(token)
                return
            if tag in ("td", "th"):
                self.template_modes[-1] = "in_row"
                self.mode = "in_row"
                self._reprocess(token)
                return
            self.template_modes[-1] = "in_body"
            self.mode = "in_body"
            self._reprocess(token)
            return
        if tt == "end":
            if token[1] == "template":
                self._end_template()
            return
        if tt == "eof":
            if not any(self.doc.tag[n] == "template" and self.doc.ns[n] == NS_HTML
                       for n in self.stack):
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
                self.stack.pop()
                return
            if tag == "noframes":
                self._mode_in_head(token)
                return
        if tt == "end" and token[1] == "frameset":
            if self._current_tag() != "html":
                self.stack.pop()
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
            text = token[1].replace("\x00", "�")
            self._insert_text(text)
            if text.strip(_WS):
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
                    self.stack.pop()
                self._process(token)
                return
            cur_ns = doc.ns[self._adjusted_current_node()]
            if len(self.stack) == 1 and self.fragment_context_tag is not None:
                cur_ns = self.fragment_context_ns
            if cur_ns == NS_SVG:
                tag = SVG_TAG_ADJUSTMENTS.get(tag, tag)
                attrs = adjust_foreign_attrs(token[2], svg=True)
            elif cur_ns == NS_MATHML:
                attrs = adjust_foreign_attrs(token[2], mathml=True)
            else:
                attrs = dict(token[2])
            self._insert_element(token, ns=cur_ns, tag_override=tag,
                                 attrs_override=attrs)
            if token[3]:
                self.stack.pop()
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
                    self.stack.pop()
                self._process(token)
                return
            node_i = len(self.stack) - 1
            node = self.stack[node_i]
            if doc.tag[node].lower() != tag:
                pass  # parse error
            while node_i > 0:
                node = self.stack[node_i]
                if doc.tag[node].lower() == tag:
                    del self.stack[node_i:]
                    return
                node_i -= 1
                if doc.ns[self.stack[node_i]] == NS_HTML:
                    self._process(token)
                    return
            return
        if tt == "eof":
            self._process(token)


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
