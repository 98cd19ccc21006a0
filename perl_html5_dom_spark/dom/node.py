"""DOM facade: lazy object views over the flat-array Document.

Mirrors the reference's Perl API surface (HTML5::DOM::Tree / Node /
Element / Collection / TokenList — /root/reference/DOM.xs and
lib/HTML5/DOM/*.pm) for parity tests and local (driver-side) use.
Objects wrap ``(Document, node_id)`` and are created lazily, matching
the reference's lazy SV materialization (/root/reference/DOM.xs:159-180).
The Spark hot path never creates these — it works on the arrays directly.
"""

from __future__ import annotations

import random as _random
import re as _re

from ..selector import matcher as _m
from ..selector.parser import SelectorList, parse_selector
from . import innertext as _innertext
from . import serializer as _ser
from .constants import (
    COMMENT_NODE,
    DOCTYPE_NODE,
    DOCUMENT_NODE,
    ELEMENT_NODE,
    FRAGMENT_NODE,
    NAMESPACE_NAMES,
    NS_HTML,
    TEXT_NODE,
    VOID_TAGS,
)
from .document import NULL, Document


def _wrap(tree: "Tree", nid: int):
    if nid == NULL or nid is None:
        return None
    return _CLASSES.get(tree.doc.node_type[nid], Node)(tree, nid)


#: ``findAttr`` comparator → CSS attribute operator (DOM.pod:1900-1921)
_ATTR_OPS = {"=": "equal", "~": "include", "|": "dash", "*": "substring",
             "^": "prefix", "$": "suffix"}


class _Queries:
    """The query methods (DOM.xs:1176-1254), scoped at ``self.nid`` of
    ``self.tree``: a node's own subtree, or the document node's for a
    Tree.  Results are in document order; ``findId`` and ``at`` give the
    first match or None.  ``findTag``/``findClass``/``findId``/``findAttr``,
    the reference's fast paths past the selector engine (DOM.xs:286-359),
    are one-simple-selector queries."""

    __slots__ = ()

    def at(self, selector, combinator: str = "descendant"):
        return _wrap(self.tree, _m.at(self.doc, selector, self.nid, combinator))

    querySelector = at

    def find(self, selector, combinator: str = "descendant") -> "Collection":
        tree = self.tree
        return Collection([_wrap(tree, n) for n in
                           _m.find(self.doc, selector, self.nid, combinator)])

    querySelectorAll = find

    def findTag(self, name: str) -> "Collection":
        """Case-insensitive; ``*`` is every element (DOM.xs:298-301)."""
        name = name.lower()
        return self.find(_m.simple(("star",) if name == "*" else ("tag", name)))

    getElementsByTagName = findTag

    def findClass(self, cls: str) -> "Collection":
        return self.find(_m.simple(("class", cls)))

    getElementsByClassName = findClass

    def findId(self, id_: str):
        return self.at(_m.simple(("id", id_)))

    getElementById = findId

    def findAttr(self, key, value=None, icase=False, cmp="=") -> "Collection":
        if value is None:
            spec = ("attr", key.lower(), "exists", None, False)
        else:
            spec = ("attr", key.lower(), _ATTR_OPS.get(cmp, "equal"), value,
                    bool(icase))
        return self.find(_m.simple(spec))

    getElementByAttribute = findAttr


class Tree(_Queries):
    """HTML5::DOM::Tree analog (reference DOM.xs:47, utils.h:61-69)."""

    def __init__(self, doc: Document):
        self.doc = doc

    # the query scope: the document node of this tree
    @property
    def tree(self) -> "Tree":
        return self

    @property
    def nid(self) -> int:
        return self.doc.root

    # --- structure accessors (DOM.xs:1336-1381)
    @property
    def root_node(self):
        return _wrap(self, self.doc.root)

    def document(self):
        return _wrap(self, self.doc.root)

    def root(self):
        return _wrap(self, self.doc.html_node)

    def head(self):
        return _wrap(self, self.doc.head_node)

    def body(self):
        return _wrap(self, self.doc.body_node)

    # --- node factory (DOM.xs:1054-1114)
    def createElement(self, tag: str, ns: str | int = NS_HTML) -> "Element":
        if isinstance(ns, str):
            ns = {v: k for k, v in NAMESPACE_NAMES.items()}.get(ns.upper(), NS_HTML)
        nid = self.doc.new_element(tag.lower(), ns)
        if tag.lower() in VOID_TAGS:
            self.doc.self_closed[nid] = True
        return _wrap(self, nid)

    def createComment(self, data: str) -> "Comment":
        return _wrap(self, self.doc.new_comment(data))

    def createTextNode(self, data: str) -> "Text":
        return _wrap(self, self.doc.new_text(data))

    def parseFragment(self, html: str, tag: str = "div", ns: int = NS_HTML):
        from .treebuilder import TreeBuilder

        tb = TreeBuilder()
        _doc, frag = tb.parse_fragment(html, tag, ns, doc=self.doc)
        return _wrap(self, frag)

    # --- serialization
    def html(self) -> str:
        return _ser.serialize(self.doc, self.doc.root, inner=True)

    def text(self) -> str:
        return _ser.text_content(self.doc, self.doc.root)

    # --- misc (DOM.xs:1256-1286)
    def compatMode(self) -> str:
        return "BackCompat" if self.doc.quirks else "CSS1Compat"

    def encoding(self) -> str:
        return self.doc.encoding

    def isSameTree(self, other: "Tree") -> bool:
        return self.doc is other.doc


class Node(_Queries):
    """HTML5::DOM::Node analog (tagged by node_type, DOM.xs:105-126)."""

    __slots__ = ("tree", "nid")

    def __init__(self, tree: Tree, nid: int):
        self.tree = tree
        self.nid = nid

    @property
    def doc(self) -> Document:
        return self.tree.doc

    # --- identity
    def __eq__(self, other):
        return isinstance(other, Node) and self.nid == other.nid \
            and self.doc is other.doc

    def __ne__(self, other):
        return not self.__eq__(other)

    def __hash__(self):
        return hash((id(self.doc), self.nid))

    def isSameNode(self, other) -> bool:
        return self == other

    def hash(self) -> int:
        return self.nid

    # --- node metadata
    def tag(self, new: str | None = None):
        if new is not None:
            self.doc.tag[self.nid] = new.lower()
            return self
        return self.doc.tag[self.nid]

    tagName = nodeName = property(lambda self: self.doc.tag[self.nid].upper())

    @property
    def nodeType(self) -> int:
        return self.doc.node_type[self.nid]

    def namespace(self) -> str:
        return NAMESPACE_NAMES[self.doc.ns[self.nid]]

    def namespaceId(self) -> int:
        return self.doc.ns[self.nid]

    def void(self) -> bool:
        return self.doc.ns[self.nid] == NS_HTML and \
            self.doc.tag[self.nid] in VOID_TAGS

    def selfClosed(self) -> bool:
        return self.doc.self_closed[self.nid]

    def position(self) -> dict:
        d = self.doc
        return {
            "raw_begin": d.raw_begin[self.nid],
            "raw_length": d.raw_length[self.nid],
            "element_begin": d.elem_begin[self.nid],
            "element_length": d.elem_length[self.nid],
        }

    def isConnected(self) -> bool:
        return self.doc.parent[self.nid] != NULL

    # --- navigation (DOM.xs:1810-1876, 2263-2307)
    def _wrap(self, nid):
        return _wrap(self.tree, nid)

    def parent(self):
        return self._wrap(self.doc.parent[self.nid])

    parentElement = parentNode = parent

    def document(self):
        return self._wrap(self.doc.root)

    ownerDocument = document

    def nextNode(self):
        return self._wrap(self.doc.next_sib[self.nid])

    nextSibling = nextNode

    def prevNode(self):
        return self._wrap(self.doc.prev_sib[self.nid])

    previousSibling = prevNode

    def next(self):
        d = self.doc
        n = d.next_sib[self.nid]
        while n != NULL and d.node_type[n] != ELEMENT_NODE:
            n = d.next_sib[n]
        return self._wrap(n)

    nextElementSibling = next

    def prev(self):
        d = self.doc
        n = d.prev_sib[self.nid]
        while n != NULL and d.node_type[n] != ELEMENT_NODE:
            n = d.prev_sib[n]
        return self._wrap(n)

    previousElementSibling = prev

    def firstNode(self):
        return self._wrap(self.doc.first_child[self.nid])

    firstChild = firstNode

    def lastNode(self):
        return self._wrap(self.doc.last_child[self.nid])

    lastChild = lastNode

    def first(self):
        d = self.doc
        n = d.first_child[self.nid]
        while n != NULL and d.node_type[n] != ELEMENT_NODE:
            n = d.next_sib[n]
        return self._wrap(n)

    firstElementChild = first

    def last(self):
        d = self.doc
        n = d.last_child[self.nid]
        while n != NULL and d.node_type[n] != ELEMENT_NODE:
            n = d.prev_sib[n]
        return self._wrap(n)

    lastElementChild = last

    def children(self) -> "Collection":
        return Collection([self._wrap(n)
                           for n in self.doc.element_children(self.nid)])

    def childrenNode(self) -> "Collection":
        return Collection([self._wrap(n) for n in self.doc.children(self.nid)])

    childNodes = childrenNode

    # --- serialization (DOM.xs:1499-1633)
    def html(self, value: str | None = None):
        if value is not None:
            return self._set_inner_html(value)
        d = self.doc
        if d.node_type[self.nid] in (DOCUMENT_NODE, FRAGMENT_NODE):
            return _ser.serialize(d, self.nid, inner=True)
        return _ser.serialize(d, self.nid)

    def innerHTML(self, value: str | None = None):
        if value is not None:
            return self._set_inner_html(value)
        return _ser.serialize(self.doc, self.nid, inner=True)

    def outerHTML(self, value: str | None = None):
        if value is not None:
            return self._set_outer_html(value)
        if self.doc.node_type[self.nid] in (DOCUMENT_NODE, FRAGMENT_NODE):
            return _ser.serialize(self.doc, self.nid, inner=True)
        return _ser.serialize(self.doc, self.nid)

    def nodeHtml(self) -> str:
        d = self.doc
        nt = d.node_type[self.nid]
        if nt == ELEMENT_NODE:
            return _ser.node_open_tag(d, self.nid)
        if nt == TEXT_NODE:
            return _ser.escape_text(d.text[self.nid] or "")
        if nt == COMMENT_NODE:
            return "<!--%s-->" % (d.text[self.nid] or "")
        if nt == DOCTYPE_NODE:
            return _ser.serialize_doctype(d, self.nid)
        return ""

    def _fragment_for(self, value: str):
        from .treebuilder import TreeBuilder

        ctx = self.doc.tag[self.nid] if \
            self.doc.node_type[self.nid] == ELEMENT_NODE else "body"
        tb = TreeBuilder()
        _doc, frag = tb.parse_fragment(value, ctx, doc=self.doc)
        return frag

    def _remove_children(self):
        d = self.doc
        for c in d.children(self.nid):
            d.remove(c)

    def _set_inner_html(self, value: str):
        frag = self._fragment_for(value)
        self._remove_children()
        d = self.doc
        for c in d.children(frag):
            d.append_child(self.nid, c)
        return self

    def _set_outer_html(self, value: str):
        d = self.doc
        parent = d.parent[self.nid]
        if parent == NULL:
            return self
        frag = self._fragment_for(value)
        for c in d.children(frag):
            d.insert_before(self.nid, c)
        d.remove(self.nid)
        return self

    # --- text getters/setters (DOM.xs:1636-1800)
    def text(self, value: str | None = None):
        d = self.doc
        nt = d.node_type[self.nid]
        if nt == ELEMENT_NODE or nt in (DOCUMENT_NODE, FRAGMENT_NODE):
            if value is not None:
                self._remove_children()
                d.append_child(self.nid, d.new_text(value))
                return self
            return _ser.text_content(d, self.nid)
        if value is not None:
            d.text[self.nid] = value
            return self
        return d.text[self.nid] or ""

    def nodeValue(self, value: str | None = None):
        d = self.doc
        if d.node_type[self.nid] == ELEMENT_NODE or \
                d.node_type[self.nid] in (DOCUMENT_NODE, FRAGMENT_NODE):
            return None
        return self.text(value)

    data = nodeValue

    def textContent(self, value: str | None = None):
        return self.text(value)

    def innerText(self, value: str | None = None):
        d = self.doc
        if d.node_type[self.nid] != ELEMENT_NODE and \
                d.node_type[self.nid] not in (DOCUMENT_NODE, FRAGMENT_NODE):
            return None
        if value is None:
            return _innertext.inner_text(d, self.nid)
        self._remove_children()
        self._insert_text_with_brs(value, outer=False)
        return self

    def outerText(self, value: str | None = None):
        if value is None:
            return self.innerText()
        self._insert_text_with_brs(value, outer=True)
        self.doc.remove(self.nid)
        return self

    def _insert_text_with_brs(self, value: str, outer: bool):
        """innerText/outerText setter semantics (DOM.xs:1705-1751):
        split on \\r\\n? | \\n into text nodes with self-closed <br> between."""
        d = self.doc
        parts = _re.split(r"\r\n|\r|\n", value)
        for i, part in enumerate(parts):
            if i > 0:
                br = d.new_element("br", d.ns[self.nid])
                d.self_closed[br] = True
                if outer:
                    d.insert_before(self.nid, br)
                else:
                    d.append_child(self.nid, br)
            if part:
                tn = d.new_text(part)
                if outer:
                    d.insert_before(self.nid, tn)
                else:
                    d.append_child(self.nid, tn)

    def matches(self, selector) -> bool:
        return _m.matches(self.doc, self.nid, selector)

    # --- mutation (DOM.xs:1878-2143)
    def _unwrap_arg(self, node):
        return node.nid if isinstance(node, Node) else node

    def _splice_in(self, node, inserter, parent_nid=None):
        """Fragment args splice their children (DOM.pod:1374-1377).

        ``parent_nid`` is the insertion parent for the spec's
        HierarchyRequestError pre-check: inserting a node into its own
        subtree would detach it into an orphan cycle (and make every
        subtree iteration loop forever), so it raises instead."""
        d = self.doc

        def _guard(c):
            if parent_nid is not None:
                a = parent_nid
                while a != NULL:
                    if a == c:
                        raise ValueError(
                            "HierarchyRequestError: cannot insert a node "
                            "into its own descendant")
                    a = d.parent[a]
            inserter(c)

        nid = self._unwrap_arg(node)
        if d.node_type[nid] == FRAGMENT_NODE:
            for c in d.children(nid):
                _guard(c)
            return
        _guard(nid)

    def append(self, node):
        """append → returns self; appendChild → returns the added node
        (reference alias return conventions, DOM.xs:2000-2035)."""
        self._splice_in(node, lambda c: self.doc.append_child(self.nid, c),
                        parent_nid=self.nid)
        return self

    def appendChild(self, node):
        self.append(node)
        return node

    def prepend(self, node):
        d = self.doc
        first = d.first_child[self.nid]
        if first == NULL:
            self._splice_in(node, lambda c: d.append_child(self.nid, c),
                            parent_nid=self.nid)
            return self
        self._splice_in(node, lambda c: d.insert_before(first, c),
                        parent_nid=self.nid)
        return self

    def prependChild(self, node):
        self.prepend(node)
        return node

    def before(self, node):
        self._splice_in(node, lambda c: self.doc.insert_before(self.nid, c),
                        parent_nid=self.doc.parent[self.nid])
        return self

    def insertBefore(self, node, ref=None):
        """Parent form: parent.insertBefore(new, ref). Returns the added
        node (DOM.xs:1896-1998)."""
        target = self if ref is None else ref
        target.before(node)
        return node

    def after(self, node):
        d = self.doc
        anchor = [self.nid]

        def ins(c):
            d.insert_after(anchor[0], c)
            anchor[0] = c

        self._splice_in(node, ins, parent_nid=d.parent[self.nid])
        return self

    def insertAfter(self, node, ref=None):
        target = self if ref is None else ref
        target.after(node)
        return node

    def replace(self, node):
        self.before(node)
        self.doc.remove(self.nid)
        return self

    def replaceChild(self, node, old):
        """Parent form: returns the replaced (old) child."""
        old.before(node)
        self.doc.remove(old.nid)
        return old

    def remove(self):
        self.doc.remove(self.nid)
        return self

    def removeChild(self, node):
        nid = self._unwrap_arg(node)
        if self.doc.parent[nid] == self.nid:
            self.doc.remove(nid)
        return self._wrap(nid)

    def clone(self, deep: bool = False, tree: "Tree | None" = None):
        """cloneNode (DOM.xs:2130-2143, utils.c:356-435). Cross-tree clone
        lands in the target tree's arena (the tag-id remap is a no-op here:
        tags are strings)."""
        src = self.doc
        dst = (tree or self.tree).doc

        def copy(nid: int) -> int:
            nt = src.node_type[nid]
            if nt == ELEMENT_NODE:
                new = dst.new_element(src.tag[nid], src.ns[nid],
                                      dict(src.attrs[nid]) if src.attrs[nid] else None)
                dst.self_closed[new] = src.self_closed[nid]
            elif nt == TEXT_NODE:
                new = dst.new_text(src.text[nid] or "")
            elif nt == COMMENT_NODE:
                new = dst.new_comment(src.text[nid] or "")
            elif nt == DOCTYPE_NODE:
                a = src.attrs[nid] or {}
                new = dst.new_doctype(src.text[nid] or "",
                                      a.get("public"), a.get("system"))
            else:
                new = dst.new_fragment()
            if deep:
                for c in src.children(nid):
                    dst.append_child(new, copy(c))
            return new

        return _wrap(tree or self.tree, copy(self.nid))

    cloneNode = clone


class Element(Node):
    __slots__ = ()

    # --- attributes (DOM.xs:2309-2448)
    def attr(self, key=None, value=None):
        d = self.doc
        attrs = d.attrs[self.nid]
        if key is None:
            return dict(attrs) if attrs else {}
        if isinstance(key, dict):
            if attrs is None:
                attrs = {}
                d.attrs[self.nid] = attrs
            for k, v in key.items():
                if v is None:
                    attrs.pop(k.lower(), None)
                else:
                    attrs[k.lower()] = str(v)
            return self
        if value is not None:
            if attrs is None:
                attrs = {}
                d.attrs[self.nid] = attrs
            attrs[key.lower()] = str(value)
            return self
        if attrs is None:
            return None
        return attrs.get(key.lower())

    getAttribute = attr

    def setAttribute(self, key, value):
        return self.attr(key, value)

    def removeAttr(self, key):
        attrs = self.doc.attrs[self.nid]
        if attrs is not None:
            attrs.pop(key.lower(), None)
        return self

    removeAttribute = removeAttr

    def hasAttribute(self, key) -> bool:
        attrs = self.doc.attrs[self.nid]
        return attrs is not None and key.lower() in attrs

    def attrArray(self) -> list:
        attrs = self.doc.attrs[self.nid] or {}
        return [{"name": k, "value": v, "namespace": None}
                for k, v in attrs.items()]

    def className(self) -> str:
        return self.attr("class") or ""

    def classList(self) -> "TokenList":
        return TokenList(self)

    def getDefaultBoxType(self) -> str:
        from .constants import DISPLAY_NAMES, ua_display
        return DISPLAY_NAMES[ua_display(self.doc.tag[self.nid],
                                        self.doc.ns[self.nid])]

    def __getitem__(self, key):
        return self.attr(key)

    def __setitem__(self, key, value):
        self.attr(key, value)

    def __delitem__(self, key):
        self.removeAttr(key)

    def __contains__(self, key):
        return self.hasAttribute(key)


class Text(Node):
    __slots__ = ()


class Comment(Node):
    __slots__ = ()


class DocType(Node):
    __slots__ = ()

    def name(self, value: str | None = None):
        if value is not None:
            self.doc.text[self.nid] = value
            return self
        return self.doc.text[self.nid] or ""

    def publicId(self, value: str | None = None):
        a = self.doc.attrs[self.nid]
        if value is not None:
            if a is None:
                a = {}
                self.doc.attrs[self.nid] = a
            a["public"] = value
            return self
        return (a or {}).get("public") or ""

    def systemId(self, value: str | None = None):
        a = self.doc.attrs[self.nid]
        if value is not None:
            if a is None:
                a = {}
                self.doc.attrs[self.nid] = a
            a["system"] = value
            return self
        return (a or {}).get("system") or ""


class DocumentNode(Node):
    __slots__ = ()


class Fragment(Node):
    __slots__ = ()


#: node type → facade class (DOM.xs:105-126); anything else is a Node
_CLASSES = {
    ELEMENT_NODE: Element,
    TEXT_NODE: Text,
    COMMENT_NODE: Comment,
    DOCTYPE_NODE: DocType,
    DOCUMENT_NODE: DocumentNode,
    FRAGMENT_NODE: Fragment,
}


class Collection:
    """HTML5::DOM::Collection analog (lib/HTML5/DOM/Collection.pm)."""

    def __init__(self, items: list):
        self.items = [x for x in items if x is not None]

    # --- basics
    def length(self) -> int:
        return len(self.items)

    def __len__(self):
        return len(self.items)

    def __iter__(self):
        return iter(self.items)

    def __getitem__(self, i):
        return self.items[i]

    def item(self, i: int):
        if -len(self.items) <= i < len(self.items):
            return self.items[i]
        return None

    def array(self) -> list:
        return list(self.items)

    def first(self, pred=None):
        """first / first(regexp) / first(callback) (Collection.pm:26-31)."""
        if pred is None:
            return self.items[0] if self.items else None
        if callable(pred):
            for i, n in enumerate(self.items):
                if pred(n, i):
                    return n
            return None
        rx = _re.compile(pred)
        for n in self.items:
            if rx.search(n.html()):
                return n
        return None

    def last(self):
        return self.items[-1] if self.items else None

    # --- slicing (exact Perl-layer semantics, Collection.pm:37-73,
    # incl. the `offset >= n-1 → empty` quirk; cases t/0-api.t:1609-1627)
    def slice(self, offset: int, length: int | None = None) -> "Collection":
        items = self.items
        n = len(items)
        if offset < 0:
            offset = n + offset
        if offset < 0 or offset >= n - 1:
            return Collection([])
        if length is None:
            length = n
        max_length = n - offset
        if length < 0:
            length = max_length + length
        if length > max_length:
            length = max_length
        if length <= 0:
            return Collection([])
        return Collection(items[offset: offset + length])

    def head(self, n: int) -> "Collection":
        return self.slice(0, n)

    def tail(self, n: int) -> "Collection":
        return self.slice(-n)

    def reverse(self) -> "Collection":
        return Collection(list(reversed(self.items)))

    def shuffle(self, seed=None) -> "Collection":
        items = list(self.items)
        _random.Random(seed).shuffle(items)
        return Collection(items)

    # --- functional (Collection.pm:75-115)
    def grep(self, pred, *args) -> "Collection":
        if callable(pred):
            return Collection([n for i, n in enumerate(self.items)
                               if pred(n, i, *args)])
        rx = _re.compile(pred)
        return Collection([n for n in self.items if rx.search(n.html())])

    def map(self, fn, *args):
        if callable(fn):
            return [fn(n, i, *args) for i, n in enumerate(self.items)]
        return [getattr(n, fn)(*args) for n in self.items]

    def each(self, fn, *args) -> "Collection":
        for i, n in enumerate(self.items):
            fn(n, i, *args)
        return self

    def add(self, node) -> "Collection":
        self.items.append(node)
        return self

    def uniq(self, key=None) -> "Collection":
        seen = set()
        out = []
        for n in self.items:
            k = key(n) if key is not None else (id(n.doc), n.nid)
            if k not in seen:
                seen.add(k)
                out.append(n)
        return Collection(out)

    # --- sinks (Collection.pm:117-131)
    def html(self) -> str:
        return "".join(n.html() for n in self.items)

    def text(self) -> str:
        return "".join(n.text() or "" for n in self.items)


class TokenList:
    """classList (lib/HTML5/DOM/TokenList.pm)."""

    def __init__(self, element: Element):
        self.element = element

    def _tokens(self) -> list[str]:
        return _m.ascii_tokens(self.element.attr("class") or "")

    def _store(self, tokens: list[str]):
        self.element.attr("class", " ".join(tokens))

    def length(self) -> int:
        return len(self._tokens())

    def item(self, i: int):
        t = self._tokens()
        return t[i] if 0 <= i < len(t) else None

    def has(self, token: str) -> bool:
        return token in self._tokens()

    contains = has

    def add(self, *tokens) -> "TokenList":
        t = self._tokens()
        for tok in tokens:
            if tok not in t:
                t.append(tok)
        self._store(t)
        return self

    def remove(self, *tokens) -> "TokenList":
        t = [x for x in self._tokens() if x not in tokens]
        self._store(t)
        return self

    def toggle(self, token: str, state: bool | None = None) -> bool:
        has = self.has(token)
        want = (not has) if state is None else state
        if want and not has:
            self.add(token)
        elif not want and has:
            self.remove(token)
        return want

    def replace(self, old: str, new: str) -> "TokenList":
        t = self._tokens()
        self._store([new if x == old else x for x in t])
        return self

    def each(self, fn) -> "TokenList":
        for i, tok in enumerate(self._tokens()):
            fn(tok, i)
        return self
