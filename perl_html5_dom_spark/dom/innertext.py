"""innerText rendering kernel.

Byte-identical re-expression of the reference's algorithm
(`html5_dom_recursive_node_inner_text`, /root/reference/utils.c:439-576),
which approximates https://html.spec.whatwg.org/#the-innertext-idl-attribute
using default user-agent display types per tag
(/root/reference/gen/tags_ua_style.c; default INLINE utils.c:225-230):

* text: drop ``\r``; collapse runs of ASCII whitespace to one space, and
  drop spaces right after a line break or at the start; NBSP is preserved.
  The collapse runs only on text that holds a run to collapse (a double
  space, or any of ``\n \t \x0b \x0c``); other text is already collapsed;
* elements with display:none (script/style/head/template/...) are skipped,
  as are textarea/input/audio/video;
* ``<br>`` always emits ``\n``;
* block/table/caption emit a boundary ``\n`` before and after (collapsed
  via the ``last_br`` flag, with spaces rtrimmed first); ``</p>`` emits two;
* table cells emit ``\t`` after every cell but the last in its row;
  table rows emit ``\n`` after every row but the last;
* trailing spaces are rtrimmed at the end (/root/reference/DOM.xs:1779).

This is the extraction backbone of the Spark pipeline (north_rule:
"byte-identical extracted text per url").

Paragraph hook: ``inner_text(doc, nid, paragraphs)`` with a dict also
stores, for every HTML ``<p>`` the walk renders, that paragraph's own
``inner_text`` — and the root's text under ``nid`` — so the main-content
join (``operators.extract.main_text``) reuses one body render instead of
rendering its paragraphs again.  A ``<p>``'s text is the output from its
start (after its opening boundary) to just before its closing boundary,
with trailing spaces stripped.  That equals a fresh render of the
``<p>`` because the state at its start is a fresh render's: the opening
boundary (or an earlier one) left ``last_br`` set, ``last_br`` implies
``new_line``, and the last earlier chunk ends in ``\n`` or ``\t``, so
neither a leading-space check nor an rtrim inside the paragraph reaches
past its start.  ``<p>`` elements the walk skips (under display-none
or ``textarea``/``input``/``audio``/``video``, or outside the root) are
not stored.
"""

from __future__ import annotations

import re

from .constants import (
    DISPLAY_BLOCK,
    DISPLAY_NONE,
    DISPLAY_TABLE,
    DISPLAY_TABLE_CAPTION,
    DISPLAY_TABLE_CELL,
    DISPLAY_TABLE_ROW,
    ELEMENT_NODE,
    NS_HTML,
    TEXT_NODE,
    UA_DISPLAY,
    ua_display,
)
from .document import NULL, Document

# collapsible whitespace per the reference's isspace() minus NBSP
_WS_RUN_RE = re.compile(r"[ \t\n\x0b\x0c]+")

# what the walk does with an element, by tag: descend without a boundary
# (``_INLINE``), skip the subtree, emit ``\n``, or descend between block,
# paragraph, cell or row boundaries
_INLINE, _SKIP, _BR, _BLOCK, _P, _CELL, _ROW = range(7)
_BY_DISPLAY = {
    DISPLAY_NONE: _SKIP, DISPLAY_BLOCK: _BLOCK, DISPLAY_TABLE: _BLOCK,
    DISPLAY_TABLE_CAPTION: _BLOCK, DISPLAY_TABLE_CELL: _CELL,
    DISPLAY_TABLE_ROW: _ROW,
}
#: kinds of elements outside the HTML namespace: by display only
_FOREIGN_KIND = {tag: _BY_DISPLAY[d] for tag, d in UA_DISPLAY.items()
                 if d in _BY_DISPLAY}
#: kinds of HTML elements: textarea/input/audio/video are skipped too,
#: and <br> and <p> have their own rules
_HTML_KIND = dict(_FOREIGN_KIND)
for _tag in ("textarea", "input", "audio", "video"):
    _HTML_KIND[_tag] = _SKIP
for _tag, _kind in (("br", _BR), ("p", _P)):
    if _HTML_KIND.get(_tag) != _SKIP:
        _HTML_KIND[_tag] = _kind


def _rtrim_spaces(out: list[str]) -> None:
    while out:
        stripped = out[-1].rstrip(" ")
        if stripped:
            out[-1] = stripped
            return
        out.pop()


def inner_text(doc: Document, nid: int, paragraphs: dict | None = None) -> str:
    """innerText of the node's children (reference DOM.xs:1765-1783:
    the getter iterates children of self, then rtrims spaces).

    One iterative enter/exit walk over the child links (no recursion:
    giant/adversarial web documents must not hit Python's recursion
    limit).  Given a dict, ``paragraphs`` also receives the render root's
    text and, for every HTML ``<p>`` the walk renders, that paragraph's
    own innerText (module docstring)."""
    node_type, tags, nss, texts = doc.node_type, doc.tag, doc.ns, doc.text
    first_child, next_sib, parent = doc.first_child, doc.next_sib, doc.parent
    html_kind, foreign_kind = _HTML_KIND.get, _FOREIGN_KIND.get
    out: list[str] = []
    append = out.append
    new_line = last_br = True
    kinds: list[int] = []   # the kinds of the open elements below ``nid``
    starts: list[int] = []  # the first chunk of each open <p>
    node = first_child[nid]
    while node != NULL:
        # -- enter ``node``; ``kind`` is set for an element entered
        # without children, whose exit runs at once
        kind = None
        nt = node_type[node]
        if nt == TEXT_NODE:
            # regex whitespace-run collapse — C-speed equivalent of the
            # character loop in the reference (utils.c:451-463); \r
            # dropped, NBSP NOT collapsible (excluded from the class).
            # Text without a double space or a \n \t \x0b \x0c is
            # already collapsed: the guard's substring tests skip the
            # regex for almost every text node
            text = texts[node]
            if text:
                if "\r" in text:
                    text = text.replace("\r", "")
                if "\n" in text or "  " in text or "\t" in text or \
                        "\x0c" in text or "\x0b" in text:
                    text = _WS_RUN_RE.sub(" ", text)
                if text == " ":
                    # all-collapsible run: emit at most one space
                    if not new_line and out[-1][-1] != " ":
                        append(" ")
                elif text:
                    if text[0] == " " and (new_line or out[-1][-1] == " "):
                        text = text[1:]
                    append(text)
                    new_line = last_br = False
        elif nt == ELEMENT_NODE:
            tag = tags[node]
            kind = (html_kind(tag, _INLINE) if nss[node] == NS_HTML
                    else foreign_kind(tag, _INLINE))
            if kind == _SKIP:
                kind = None
            elif kind == _BR:
                append("\n")
                new_line = last_br = True
                kind = None
            else:
                if kind == _BLOCK or kind == _P:
                    if not last_br:
                        _rtrim_spaces(out)
                        append("\n")
                        new_line = last_br = True
                    if kind == _P:
                        starts.append(len(out))
                child = first_child[node]
                if child != NULL:
                    kinds.append(kind)
                    node = child
                    continue
        # -- leave ``node``, then every ancestor whose last child it is
        while True:
            if kind is not None and kind != _INLINE:
                # post-children boundary handling (second switch in
                # utils.c:509-572)
                if kind == _P or kind == _BLOCK:
                    if kind == _P:
                        start = starts.pop()
                        if paragraphs is not None:
                            # the state at the <p>'s start was a fresh
                            # render's: its chunks are its own innerText
                            paragraphs[node] = "".join(
                                out[start:]).rstrip(" ")
                    if not last_br:
                        _rtrim_spaces(out)
                        append("\n\n" if kind == _P else "\n")
                        new_line = last_br = True
                elif kind == _CELL:
                    if _last_of(doc, node, DISPLAY_TABLE_CELL) != node:
                        _rtrim_spaces(out)
                        append("\t")
                    new_line = True
                else:
                    if _last_of(doc, node, DISPLAY_TABLE_ROW) != node:
                        _rtrim_spaces(out)
                        append("\n")
                        last_br = True
                    new_line = True
            sib = next_sib[node]
            if sib != NULL:
                node = sib
                break
            node = parent[node]
            if node == nid:
                node = NULL
                break
            kind = kinds.pop()
    _rtrim_spaces(out)
    text = "".join(out)
    if paragraphs is not None:
        paragraphs[nid] = text
    return text


def _last_of(doc: Document, node: int, display: int) -> int:
    """The last element child of ``node``'s parent with ``display``."""
    p = doc.parent[node]
    if p == NULL:
        return NULL
    c = doc.last_child[p]
    while c != NULL:
        if doc.node_type[c] == ELEMENT_NODE and \
                ua_display(doc.tag[c], doc.ns[c]) == display:
            return c
        c = doc.prev_sib[c]
    return NULL
