"""HTML serialization + textContent (WHATWG §13.3 serialization).

Matches the reference's observable serialization behavior
(`html`/`innerHTML`/`nodeHtml` getters, /root/reference/DOM.xs:1499-1633;
golden strings /root/reference/t/0-api.t:554-576): text escapes
``& < > \xa0``; attribute values escape ``& " \xa0``; attributes always
double-quoted; void elements never get a closing tag; raw-text element
children serialize unescaped.

``serialize`` and ``text_content`` are each one iterative enter/exit
walk over the child links, like ``innertext.inner_text``: no recursion,
no per-node child lists or calls.  ``node_open_tag``, ``escape_text``,
``escape_attr`` and ``serialize_doctype`` serve the single-node getters
(``nodeHtml``) and doctype nodes.
"""

from __future__ import annotations

from .constants import (
    COMMENT_NODE,
    DOCTYPE_NODE,
    DOCUMENT_NODE,
    ELEMENT_NODE,
    FRAGMENT_NODE,
    LITERAL_TEXT_TAGS,
    NS_HTML,
    TEXT_NODE,
    VOID_TAGS,
)
from .document import NULL, Document


def escape_text(s: str) -> str:
    if not s:
        return s
    return (
        s.replace("&", "&amp;")
        .replace("\xa0", "&nbsp;")
        .replace("<", "&lt;")
        .replace(">", "&gt;")
    )


def escape_attr(s: str) -> str:
    if not s:
        return s
    return s.replace("&", "&amp;").replace("\xa0", "&nbsp;").replace('"', "&quot;")


def node_open_tag(doc: Document, nid: int) -> str:
    """Serialize only the open tag (reference nodeHtml, DOM.xs:1499-1505)."""
    attrs = doc.attrs[nid]
    tag = doc.tag[nid]
    if attrs:
        tag += "".join([" " + k + '="' + escape_attr(v) + '"'
                        for k, v in attrs.items()])
    if doc.self_closed[nid] and doc.ns[nid] != NS_HTML:
        return "<" + tag + " />"
    return "<" + tag + ">"


def serialize_doctype(doc: Document, nid: int) -> str:
    name = doc.text[nid] or ""
    attrs = doc.attrs[nid] or {}
    public = attrs.get("public")
    system = attrs.get("system")
    out = "<!DOCTYPE " + name if name else "<!DOCTYPE"
    if public is not None and public != "":
        out += ' PUBLIC "%s"' % public
        if system:
            out += ' "%s"' % system
    elif system:
        out += ' SYSTEM "%s"' % system
    return out + ">"


#: parents whose text children serialize unescaped when the document was
#: parsed with scripting on (spec: ``<noscript>`` text is literal only
#: then — its content IS raw text)
_LITERAL_SCRIPTING = LITERAL_TEXT_TAGS | {"noscript"}
#: elements whose first text child's leading newline is re-emitted
_NEWLINE_TAGS = frozenset(("pre", "textarea", "listing"))


def serialize(doc: Document, nid: int, inner: bool = False) -> str:
    """outerHTML of nid (inner=False) or innerHTML (inner=True).

    Matches myhtml_serialization_tree_callback output (invoked at the
    reference's DOM.xs:1622-1633).  One iterative enter/exit walk
    over the child links (no recursion, no per-node lists or calls): an
    element's open tag is built on entry, with one ``join`` over its
    attributes, and its close tag, kept on the ``closes`` stack, is
    emitted when the walk leaves it.  Text and attribute escapes are
    ``escape_text``/``escape_attr`` inlined."""
    node_type, tags, nss, texts = doc.node_type, doc.tag, doc.ns, doc.text
    first_child, next_sib, parent = doc.first_child, doc.next_sib, doc.parent
    attrs_arr, self_closed = doc.attrs, doc.self_closed
    literal = _LITERAL_SCRIPTING if doc.scripting else LITERAL_TEXT_TAGS
    out: list[str] = []
    append = out.append
    closes: list[str] = []  # close tags of the entered nodes below the top
    if inner:
        node = first_child[nid]
        if node == NULL:
            return ""
    else:
        node = nid
    while True:
        # -- enter ``node``; one with children continues into them
        nt = node_type[node]
        if nt == TEXT_NODE:
            text = texts[node]
            if text:
                p = parent[node]
                if p != NULL and tags[p] in literal and nss[p] == NS_HTML and \
                        node_type[p] == ELEMENT_NODE:
                    append(text)
                else:
                    append(text.replace("&", "&amp;")
                           .replace("\xa0", "&nbsp;")
                           .replace("<", "&lt;").replace(">", "&gt;"))
        elif nt == ELEMENT_NODE:
            tag = tags[node]
            attrs = attrs_arr[node]
            if attrs:
                open_tag = "<" + tag + "".join([
                    " " + k + '="' + v.replace("&", "&amp;")
                    .replace("\xa0", "&nbsp;").replace('"', "&quot;") + '"'
                    for k, v in attrs.items()])
            else:
                open_tag = "<" + tag
            if nss[node] == NS_HTML:
                append(open_tag + ">")
                if tag in VOID_TAGS:
                    tag = None
                elif tag in _NEWLINE_TAGS:
                    # spec 13.3 "serializing HTML fragments": re-emit the
                    # newline the parser will strip, else round-trip
                    # loses it (round-4 fuzz find)
                    fc = first_child[node]
                    if fc != NULL and node_type[fc] == TEXT_NODE and \
                            (texts[fc] or "").startswith("\n"):
                        append("\n")
            elif self_closed[node]:
                append(open_tag + " />")
                tag = None
            else:
                append(open_tag + ">")
            if tag is not None:
                child = first_child[node]
                if child != NULL:
                    closes.append("</" + tag + ">")
                    node = child
                    continue
                append("</" + tag + ">")
        elif nt == COMMENT_NODE:
            append("<!--" + (texts[node] or "") + "-->")
        elif nt == DOCTYPE_NODE:
            append(serialize_doctype(doc, node))
        elif nt == DOCUMENT_NODE or nt == FRAGMENT_NODE:
            child = first_child[node]
            if child != NULL:
                closes.append("")
                node = child
                continue
        # -- leave ``node``, then every ancestor whose last child it is;
        # the top node's siblings are outside an outer walk
        while True:
            sib = next_sib[node]
            if sib != NULL and (closes or inner):
                node = sib
                break
            if not closes:
                return "".join(out)
            node = parent[node]
            append(closes.pop())


def text_content(doc: Document, nid: int) -> str:
    """Concatenation of descendant text nodes in document order
    (reference html5_dom_recursive_node_text, DOM.xs:64-77 — skips
    comments, recurses only into elements).  The same enter/exit walk
    as ``serialize``."""
    node_type, texts = doc.node_type, doc.text
    first_child, next_sib, parent = doc.first_child, doc.next_sib, doc.parent
    out: list[str] = []
    node = first_child[nid]
    if node == NULL:
        return ""
    while True:
        nt = node_type[node]
        if nt == TEXT_NODE:
            text = texts[node]
            if text:
                out.append(text)
        elif nt == ELEMENT_NODE:
            child = first_child[node]
            if child != NULL:
                node = child
                continue
        while True:
            sib = next_sib[node]
            if sib != NULL:
                node = sib
                break
            node = parent[node]
            if node == nid:
                return "".join(out)
