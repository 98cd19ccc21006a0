"""Arena-allocated document: flat parallel arrays of nodes.

The reference stores nodes in a myhtml arena with parent/child/sibling
pointers (created via ``myhtml_tree_create``, /root/reference/DOM.xs:945);
this is the Python analog: one Python list per field, node handle = index.
No per-node objects are created during parse — the DOM facade in
``node.py`` wraps (doc, index) lazily, matching the reference's lazy SV
materialization (/root/reference/DOM.xs:159-180).

``preorder()`` computes the pre-order indexes and subtree intervals of
the Spark-side relational node table.
"""

from __future__ import annotations

from .constants import (
    COMMENT_NODE,
    DOCTYPE_NODE,
    DOCUMENT_NODE,
    ELEMENT_NODE,
    FRAGMENT_NODE,
    NS_HTML,
    TEXT_NODE,
)

NULL = -1


class Document:
    """One parsed HTML document as struct-of-arrays."""

    __slots__ = (
        "parent", "first_child", "last_child", "next_sib", "prev_sib",
        "tag", "ns", "node_type", "text", "attrs", "self_closed",
        "raw_begin", "raw_length", "elem_begin", "elem_length",
        "root", "html_node", "head_node", "body_node",
        "doctype_node", "quirks", "encoding", "fragment_context",
        "scripting", "fostered", "misnested",
    )

    def __init__(self) -> None:
        self.parent: list[int] = []
        self.first_child: list[int] = []
        self.last_child: list[int] = []
        self.next_sib: list[int] = []
        self.prev_sib: list[int] = []
        self.tag: list[str] = []          # lowercase name; '-text'... see new_*
        self.ns: list[int] = []
        self.node_type: list[int] = []
        self.text: list[str | None] = []  # payload for text/comment nodes
        self.attrs: list[dict | None] = []  # ordered dict name -> value
        self.self_closed: list[bool] = []
        # source positions (reference DOM.xs:2161-2172)
        self.raw_begin: list[int] = []
        self.raw_length: list[int] = []
        self.elem_begin: list[int] = []
        self.elem_length: list[int] = []

        self.root = self._new_node("-document", DOCUMENT_NODE, NS_HTML)
        self.html_node = NULL
        self.head_node = NULL
        self.body_node = NULL
        self.doctype_node = NULL
        self.quirks = False
        self.scripting: bool = True  # parse-time scripts flag (serializer: noscript literal text)
        self.fostered: bool = False  # any node foster-parented during parse (serialize round-trip is spec-lossy then)
        self.misnested: bool = False  # AFE reconstruction / adoption-agency moved nodes (round-trip spec-lossy)
        self.encoding = "utf-8"
        self.fragment_context: str | None = None

    # ------------------------------------------------------------------
    # node creation
    # ------------------------------------------------------------------
    def _new_node(self, tag: str, node_type: int, ns: int = NS_HTML) -> int:
        nid = len(self.tag)
        self.parent.append(NULL)
        self.first_child.append(NULL)
        self.last_child.append(NULL)
        self.next_sib.append(NULL)
        self.prev_sib.append(NULL)
        self.tag.append(tag)
        self.ns.append(ns)
        self.node_type.append(node_type)
        self.text.append(None)
        self.attrs.append(None)
        self.self_closed.append(False)
        self.raw_begin.append(0)
        self.raw_length.append(0)
        self.elem_begin.append(0)
        self.elem_length.append(0)
        return nid

    def new_element(self, tag: str, ns: int = NS_HTML,
                    attrs: dict | None = None) -> int:
        nid = self._new_node(tag, ELEMENT_NODE, ns)
        if attrs:
            self.attrs[nid] = attrs
        return nid

    def new_text(self, data: str) -> int:
        nid = self._new_node("-text", TEXT_NODE)
        self.text[nid] = data
        return nid

    def new_comment(self, data: str) -> int:
        nid = self._new_node("-comment", COMMENT_NODE)
        self.text[nid] = data
        return nid

    def new_doctype(self, name: str, public_id: str | None,
                    system_id: str | None) -> int:
        nid = self._new_node("!doctype", DOCTYPE_NODE)
        self.text[nid] = name
        self.attrs[nid] = {}
        if public_id is not None:
            self.attrs[nid]["public"] = public_id
        if system_id is not None:
            self.attrs[nid]["system"] = system_id
        return nid

    def new_fragment(self) -> int:
        return self._new_node("-fragment", FRAGMENT_NODE)

    # ------------------------------------------------------------------
    # structure mutation (myhtml_tree_node_{add_child,insert_before,...})
    # ------------------------------------------------------------------
    def append_child(self, parent: int, child: int) -> None:
        if self.parent[child] != NULL:
            self.remove(child)
        last = self.last_child[parent]
        self.parent[child] = parent
        self.prev_sib[child] = last
        self.next_sib[child] = NULL
        if last != NULL:
            self.next_sib[last] = child
        else:
            self.first_child[parent] = child
        self.last_child[parent] = child

    def insert_before(self, ref: int, node: int) -> None:
        if node == ref:
            # inserting a node before itself leaves the tree as it is
            # (DOM "pre-insert" with child == node); unlinking and then
            # linking it before itself would make it its own sibling
            return
        if self.parent[node] != NULL:
            self.remove(node)
        parent = self.parent[ref]
        prev = self.prev_sib[ref]
        self.parent[node] = parent
        self.prev_sib[node] = prev
        self.next_sib[node] = ref
        self.prev_sib[ref] = node
        if prev != NULL:
            self.next_sib[prev] = node
        elif parent != NULL:
            self.first_child[parent] = node

    def insert_after(self, ref: int, node: int) -> None:
        nxt = self.next_sib[ref]
        if nxt != NULL:
            self.insert_before(nxt, node)
        else:
            self.append_child(self.parent[ref], node)

    def remove(self, node: int) -> None:
        parent = self.parent[node]
        prev = self.prev_sib[node]
        nxt = self.next_sib[node]
        if prev != NULL:
            self.next_sib[prev] = nxt
        elif parent != NULL:
            self.first_child[parent] = nxt
        if nxt != NULL:
            self.prev_sib[nxt] = prev
        elif parent != NULL:
            self.last_child[parent] = prev
        self.parent[node] = NULL
        self.prev_sib[node] = NULL
        self.next_sib[node] = NULL

    def prepend_child(self, parent: int, child: int) -> None:
        first = self.first_child[parent]
        if first != NULL:
            self.insert_before(first, child)
        else:
            self.append_child(parent, child)

    # ------------------------------------------------------------------
    # traversal helpers
    # ------------------------------------------------------------------
    def children(self, node: int) -> list[int]:
        out = []
        c = self.first_child[node]
        while c != NULL:
            out.append(c)
            c = self.next_sib[c]
        return out

    def element_children(self, node: int) -> list[int]:
        return [c for c in self.children(node) if self.node_type[c] == ELEMENT_NODE]

    def iter_subtree(self, node: int, include_self: bool = True):
        """Pre-order iteration over the subtree (iterative, no recursion)."""
        if include_self:
            yield node
        stack = []
        c = self.first_child[node]
        while True:
            while c != NULL:
                yield c
                fc = self.first_child[c]
                if fc != NULL:
                    stack.append(self.next_sib[c])
                    c = fc
                else:
                    c = self.next_sib[c]
            if not stack:
                return
            c = stack.pop()

    def preorder(self) -> tuple[list[int], list[int], list[int]]:
        """``(order, pos, end)`` of the tree under ``root``: the node ids
        in pre-order, each node's index in it and the index of the last
        node of its subtree (``pos`` is NULL and ``end`` 0 for a node
        outside the tree).  One enter/exit walk over the child links,
        the walk ``serializer.serialize`` makes; nothing is kept, so a
        mutation needs no bookkeeping."""
        first_child, next_sib, parent = (
            self.first_child, self.next_sib, self.parent)
        root = self.root
        order: list[int] = []
        pos = [NULL] * len(first_child)
        end = [0] * len(first_child)
        node = root
        while True:
            # -- enter ``node``; one with children continues into them
            pos[node] = len(order)
            order.append(node)
            child = first_child[node]
            if child != NULL:
                node = child
                continue
            # -- leave ``node`` and every ancestor it ends, up to a sibling
            last = len(order) - 1
            while True:
                end[node] = last
                if node == root:
                    return order, pos, end
                sib = next_sib[node]
                if sib != NULL:
                    node = sib
                    break
                node = parent[node]

    def __len__(self) -> int:
        return len(self.tag)
