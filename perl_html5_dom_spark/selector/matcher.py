"""Selector matcher over the flat-array Document.

Re-implements the behavior the reference obtains from Modest's finder
(`html5_node_finder`, /root/reference/utils.c:256-304): per selector
entry, walk the scope subtree in document order and evaluate the
compiled compound chain right-to-left (ancestor/sibling walks may climb
above the scope, matching browser querySelectorAll semantics — see the
`body->at('body > div.red')` example in /root/reference/lib/HTML5/DOM.pod).

Root-combinator override (2nd arg of find/at, utils.c:306-323):
'>>' descendant (default), '>' child, '+' next sibling, '~' following
siblings, '^' begin (match from the scope node itself), '||' column.

Pseudo-elements parse but match nothing, like the reference (SURVEY §2.2).

The '||' column combinator implements Selectors L4 §"column combinator"
with the WHATWG table-grid algorithm (colspan/rowspan occupancy): the
right side matches a td/th whose column range intersects the range of a
col/colgroup matched by the left side in the same table (reference wires
modest_finder_node_combinator_column, utils.c:306-310).
"""

from __future__ import annotations

import re

from ..dom.constants import (
    DOCUMENT_NODE,
    ELEMENT_NODE,
    FRAGMENT_NODE,
    NS_HTML,
    TEXT_NODE,
)
from ..dom.document import NULL, Document
from .parser import Entry, SelectorList, parse_selector

#: ``class`` tokens and ``~=`` words: a string split on ASCII whitespace
#: (tab, LF, FF, CR, space — DOM "split on ASCII whitespace", CSS ``~=``);
#: ``str.split()`` would also split on NBSP, VT and the Unicode spaces
ascii_tokens = re.compile(r"[^\t\n\f\r ]+").findall

_FORM_CONTROL = frozenset(
    "button input select textarea optgroup option fieldset".split()
)

_COMBINATOR_ALIASES = {
    ">>": "descendant",
    ">": "child",
    "+": "sibling",
    "~": "adjacent",
    "||": "column",
    "^": "begin",
    "descendant": "descendant",
    "child": "child",
    "sibling": "sibling",
    "adjacent": "adjacent",
    "column": "column",
    "begin": "begin",
}


def compile_selector(selector) -> SelectorList:
    if isinstance(selector, SelectorList):
        return selector
    return parse_selector(str(selector))


def find(doc: Document, selector, scope: int | None = None,
         combinator: str = "descendant", first: bool = False) -> list[int]:
    """All matches (document order per entry, entries concatenated in
    order, mirroring the reference's per-entry append, utils.c:296-300)."""
    sel = compile_selector(selector)
    if not sel.valid or not sel.entries:
        return []
    if scope is None:
        scope = doc.root
    comb = _COMBINATOR_ALIASES.get(combinator, "descendant")
    candidates = _candidates(doc, scope, comb)
    tags = doc.tag
    out: list[int] = []
    seen_global: set[int] = set()
    for entry in sel.entries:
        steps = entry.steps
        k = len(steps) - 1
        # the rightmost compound's type selector rejects most candidates
        # before any simple selector runs
        want = next((s[1] for s in steps[k][1] if s[0] == "tag"), None)
        for node in candidates:
            if want is not None:
                tag = tags[node]
                if tag != want and tag.lower() != want:
                    continue
            if node in seen_global:
                continue
            if _match_compound(doc, node, steps[k][1], scope) and \
                    _match_left(doc, node, steps, k, scope):
                out.append(node)
                seen_global.add(node)
                if first:
                    return out
    return out


def simple(s) -> SelectorList:
    """The selector of one simple selector ``s`` (a parser tuple, such
    as ``("tag", "p")``), with no text to parse."""
    return SelectorList([Entry([(None, [s])])])


def at(doc: Document, selector, scope: int | None = None,
       combinator: str = "descendant") -> int:
    res = find(doc, selector, scope, combinator, first=True)
    return res[0] if res else NULL


def matches(doc: Document, node: int, selector, scope: int | None = None) -> bool:
    sel = compile_selector(selector)
    if not sel.valid:
        return False
    for entry in sel.entries:
        k = len(entry.steps) - 1
        if _match_compound(doc, node, entry.steps[k][1], scope) and \
                _match_left(doc, node, entry.steps, k, scope):
            return True
    return False


# ---------------------------------------------------------------------------
# table grid for the '||' column combinator (Selectors L4; WHATWG
# "forming a table" colspan/rowspan occupancy)
# ---------------------------------------------------------------------------
def _intattr(doc: Document, nid: int, name: str, default: int) -> int:
    attrs = doc.attrs[nid]
    v = attrs.get(name) if attrs else None
    if v is None:
        return default
    try:
        n = int(str(v).strip())
    except ValueError:
        return default
    return n if n >= 0 else default


def _ancestor_table(doc: Document, nid: int) -> int:
    p = doc.parent[nid]
    while p != NULL:
        if doc.node_type[p] == ELEMENT_NODE and doc.tag[p] == "table":
            return p
        p = doc.parent[p]
    return NULL


def _table_rows(doc: Document, table: int) -> list[int]:
    rows = []
    for sec in doc.element_children(table):
        t = doc.tag[sec]
        if t == "tr":
            rows.append(sec)
        elif t in ("thead", "tbody", "tfoot"):
            rows.extend(r for r in doc.element_children(sec)
                        if doc.tag[r] == "tr")
    return rows


def _table_grid(doc: Document, table: int) -> dict[int, tuple[int, int]]:
    """cell node -> (column start, colspan) with rowspan occupancy."""
    grid: dict[int, tuple[int, int]] = {}
    occ: dict[int, int] = {}  # column -> rows it stays blocked
    for tr in _table_rows(doc, table):
        x = 0
        new: dict[int, int] = {}
        for cell in doc.element_children(tr):
            if doc.tag[cell] not in ("td", "th"):
                continue
            while occ.get(x, 0) > 0:
                x += 1
            cs = max(1, _intattr(doc, cell, "colspan", 1))
            rs = _intattr(doc, cell, "rowspan", 1)
            grid[cell] = (x, cs)
            if rs != 1:
                block = 1 << 30 if rs == 0 else rs - 1
                for cc in range(x, x + cs):
                    new[cc] = max(new.get(cc, 0), block)
            x += cs
        occ = {c: r - 1 for c, r in occ.items() if r > 1}
        for c, r in new.items():
            occ[c] = max(occ.get(c, 0), r)
    return grid


def _table_columns(doc: Document, table: int) -> list[tuple[int, int, int]]:
    """(col-or-colgroup node, column start, span) in document order."""
    out = []
    x = 0
    for g in doc.element_children(table):
        t = doc.tag[g]
        if t == "col":
            span = max(1, _intattr(doc, g, "span", 1))
            out.append((g, x, span))
            x += span
        elif t == "colgroup":
            cols = [c for c in doc.element_children(g) if doc.tag[c] == "col"]
            if not cols:
                span = max(1, _intattr(doc, g, "span", 1))
                out.append((g, x, span))
                x += span
            else:
                gx = x
                for c in cols:
                    span = max(1, _intattr(doc, c, "span", 1))
                    out.append((c, x, span))
                    x += span
                out.append((g, gx, x - gx))
    return out


def _column_range(doc: Document, el: int) -> tuple[int, int] | None:
    table = _ancestor_table(doc, el)
    if table == NULL:
        return None
    for node, x, span in _table_columns(doc, table):
        if node == el:
            return (x, span)
    return None


def _column_cells(doc: Document, el: int) -> list[int]:
    """Cells of el's column(s), document order (el is col/colgroup): the
    grid holds a table's rows, and each row's cells, in document order."""
    rng = _column_range(doc, el)
    if rng is None:
        return []
    c0, span = rng
    grid = _table_grid(doc, _ancestor_table(doc, el))
    return [cell for cell, (x, cs) in grid.items()
            if x < c0 + span and c0 < x + cs]


# ---------------------------------------------------------------------------
# candidate enumeration per root combinator
# ---------------------------------------------------------------------------
def _descendants(doc: Document, scope: int) -> list[int]:
    """The element descendants of ``scope`` in document order."""
    nt, first_child, next_sib, parent = (
        doc.node_type, doc.first_child, doc.next_sib, doc.parent)
    out = []
    node = first_child[scope]
    while node != NULL:
        if nt[node] == ELEMENT_NODE:
            out.append(node)
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
            if node == scope:
                node = NULL
                break
    return out


def _candidates(doc: Document, scope: int, comb: str) -> list[int]:
    nt = doc.node_type
    if comb == "column":
        return _column_cells(doc, scope)
    if comb == "child":
        return doc.element_children(scope)
    if comb == "sibling":
        n = doc.next_sib[scope]
        while n != NULL and nt[n] != ELEMENT_NODE:
            n = doc.next_sib[n]
        return [n] if n != NULL else []
    if comb == "adjacent":
        out = []
        n = doc.next_sib[scope]
        while n != NULL:
            if nt[n] == ELEMENT_NODE:
                out.append(n)
            n = doc.next_sib[n]
        return out
    if comb == "begin":
        out = [scope] if nt[scope] == ELEMENT_NODE else []
        out.extend(_descendants(doc, scope))
        return out
    return _descendants(doc, scope)


# ---------------------------------------------------------------------------
# chain evaluation (right-to-left with backtracking)
# ---------------------------------------------------------------------------
def _match_left(doc: Document, node: int, steps, k: int, scope) -> bool:
    if k == 0:
        return True
    comb = steps[k][0]
    prev = steps[k - 1][1]
    nt = doc.node_type
    if comb == "column":
        # node must be a cell whose column range intersects a
        # col/colgroup matched by the left-hand compound (same table)
        if doc.tag[node] not in ("td", "th"):
            return False
        table = _ancestor_table(doc, node)
        if table == NULL:
            return False
        rng = _table_grid(doc, table).get(node)
        if rng is None:
            return False
        x, cs = rng
        for colel, c0, span in _table_columns(doc, table):
            if x < c0 + span and c0 < x + cs and \
                    _match_compound(doc, colel, prev, scope) and \
                    _match_left(doc, colel, steps, k - 1, scope):
                return True
        return False
    if comb in ("child", "begin"):
        p = doc.parent[node]
        if p == NULL or nt[p] != ELEMENT_NODE:
            return False
        return _match_compound(doc, p, prev, scope) and \
            _match_left(doc, p, steps, k - 1, scope)
    if comb == "descendant":
        p = doc.parent[node]
        while p != NULL:
            if nt[p] == ELEMENT_NODE and _match_compound(doc, p, prev, scope) \
                    and _match_left(doc, p, steps, k - 1, scope):
                return True
            p = doc.parent[p]
        return False
    if comb == "sibling":  # '+'
        p = doc.prev_sib[node]
        while p != NULL and nt[p] != ELEMENT_NODE:
            p = doc.prev_sib[p]
        if p == NULL:
            return False
        return _match_compound(doc, p, prev, scope) and \
            _match_left(doc, p, steps, k - 1, scope)
    if comb == "adjacent":  # '~'
        p = doc.prev_sib[node]
        while p != NULL:
            if nt[p] == ELEMENT_NODE and _match_compound(doc, p, prev, scope) \
                    and _match_left(doc, p, steps, k - 1, scope):
                return True
            p = doc.prev_sib[p]
        return False
    return False


# ---------------------------------------------------------------------------
# compound / simple evaluation
# ---------------------------------------------------------------------------
def _match_compound(doc: Document, node: int, simples, scope) -> bool:
    if doc.node_type[node] != ELEMENT_NODE:
        return False
    for s in simples:
        if not _match_simple(doc, node, s, scope):
            return False
    return True


def _match_simple(doc: Document, node: int, s, scope) -> bool:
    kind = s[0]
    if kind == "star":
        return True
    if kind == "tag":
        return doc.tag[node].lower() == s[1]
    attrs = doc.attrs[node]
    if kind == "id":
        return attrs is not None and attrs.get("id") == s[1]
    if kind == "class":
        if attrs is None:
            return False
        cls = attrs.get("class")
        return cls is not None and s[1] in ascii_tokens(cls)
    if kind == "attr":
        return _match_attr(attrs, s)
    if kind == "pseudo":
        return _match_pseudo(doc, node, s[1], scope)
    if kind == "pelement":
        return False  # pseudo-elements never match (reference parity)
    if kind == "nth":
        return _match_nth(doc, node, s, scope)
    if kind == "func":
        return _match_func(doc, node, s, scope)
    return False


def _match_attr(attrs, s) -> bool:
    _, name, op, value, icase = s
    if attrs is None:
        return False
    if name not in attrs:
        return False
    if op == "exists":
        return True
    actual = attrs[name]
    if icase:
        actual = actual.lower()
        value = value.lower()
    if op == "equal":
        return actual == value
    if op == "include":
        return value in ascii_tokens(actual)
    if op == "dash":
        return actual == value or actual.startswith(value + "-")
    if op == "prefix":
        return bool(value) and actual.startswith(value)
    if op == "suffix":
        return bool(value) and actual.endswith(value)
    if op == "substring":
        return bool(value) and value in actual
    return False


def _element_siblings(doc: Document, node: int) -> list[int]:
    p = doc.parent[node]
    if p == NULL:
        return [node]
    return [c for c in doc.children(p) if doc.node_type[c] == ELEMENT_NODE]


def _match_pseudo(doc: Document, node: int, name: str, scope) -> bool:
    nt = doc.node_type
    if name == "first-child":
        sibs = _element_siblings(doc, node)
        return bool(sibs) and sibs[0] == node
    if name == "last-child":
        sibs = _element_siblings(doc, node)
        return bool(sibs) and sibs[-1] == node
    if name == "only-child":
        return _element_siblings(doc, node) == [node]
    if name in ("first-of-type", "last-of-type", "only-of-type"):
        tag = doc.tag[node]
        ns = doc.ns[node]
        sibs = [c for c in _element_siblings(doc, node)
                if doc.tag[c] == tag and doc.ns[c] == ns]
        if name == "first-of-type":
            return bool(sibs) and sibs[0] == node
        if name == "last-of-type":
            return bool(sibs) and sibs[-1] == node
        return sibs == [node]
    if name == "root":
        p = doc.parent[node]
        return p != NULL and nt[p] in (DOCUMENT_NODE, FRAGMENT_NODE)
    if name == "empty":
        c = doc.first_child[node]
        while c != NULL:
            if nt[c] == ELEMENT_NODE:
                return False
            if nt[c] == TEXT_NODE and doc.text[c]:
                return False
            c = doc.next_sib[c]
        return True
    if name == "blank":
        c = doc.first_child[node]
        while c != NULL:
            if nt[c] == ELEMENT_NODE:
                return False
            if nt[c] == TEXT_NODE and (doc.text[c] or "").strip():
                return False
            c = doc.next_sib[c]
        return True
    attrs = doc.attrs[node] or {}
    tag = doc.tag[node]
    if name in ("link", "any-link"):
        return tag in ("a", "area") and "href" in attrs
    if name == "scope":
        return scope is not None and node == scope
    if name == "checked":
        return ("checked" in attrs and tag in ("input", "menuitem")) or \
            ("selected" in attrs and tag == "option")
    if name == "disabled":
        return tag in _FORM_CONTROL and "disabled" in attrs
    if name == "enabled":
        return tag in _FORM_CONTROL and "disabled" not in attrs
    if name == "required":
        return tag in ("input", "select", "textarea") and "required" in attrs
    if name == "optional":
        return tag in ("input", "select", "textarea") and "required" not in attrs
    if name == "read-write":
        return tag in ("input", "textarea") and "readonly" not in attrs \
            and "disabled" not in attrs
    if name == "read-only":
        return not (tag in ("input", "textarea") and "readonly" not in attrs
                    and "disabled" not in attrs)
    if name == "placeholder-shown":
        return tag in ("input", "textarea") and "placeholder" in attrs
    # dynamic/user-interaction states never match in a static DOM
    return False


def _match_nth(doc: Document, node: int, s, scope) -> bool:
    _, variant, a, b, of = s
    sibs = _element_siblings(doc, node)
    if variant in ("nth-of-type", "nth-last-of-type"):
        tag, ns = doc.tag[node], doc.ns[node]
        sibs = [c for c in sibs if doc.tag[c] == tag and doc.ns[c] == ns]
    elif of is not None:
        sibs = [c for c in sibs if matches(doc, c, of, scope)]
        if node not in sibs:
            return False
    if node not in sibs:
        return False
    idx = sibs.index(node)
    if variant in ("nth-last-child", "nth-last-of-type", "nth-last-column"):
        pos = len(sibs) - idx
    else:
        pos = idx + 1
    if a == 0:
        return pos == b
    d, r = divmod(pos - b, a)
    return r == 0 and d >= 0


def _match_func(doc: Document, node: int, s, scope) -> bool:
    _, name, payload = s
    if name == "not":
        return not any(
            _entry_matches(doc, node, e, scope) for e in payload.entries
        )
    if name in ("matches", "is", "where", "current"):
        return any(_entry_matches(doc, node, e, scope) for e in payload.entries)
    if name == "has":
        # relative-selector semantics: every payload entry starts with
        # an explicit ':scope' step (parser desugaring) and the anchor
        # is the scope.  Candidate space narrows per entry by its
        # leading combinator — subtree for descendant, the anchor's
        # subtree-after-children for child chains, following siblings'
        # subtrees for +/~ — so absolute :has() keeps its old
        # subtree-only cost and relative forms never scan the document.
        for e in payload.entries:
            lead = e.steps[1][0] if len(e.steps) > 1 else "descendant"
            if lead in ("descendant", "child"):
                cands = doc.iter_subtree(node, include_self=False)
            elif lead in ("sibling", "adjacent"):
                def _sibs(anchor):
                    s = doc.next_sib[anchor]
                    while s != NULL:
                        if doc.node_type[s] == ELEMENT_NODE:
                            yield s
                            yield from doc.iter_subtree(
                                s, include_self=False)
                        s = doc.next_sib[s]
                cands = _sibs(node)
            else:                       # column: same-table cells
                cands = doc.iter_subtree(doc.root, include_self=False)
            for m in cands:
                if doc.node_type[m] != ELEMENT_NODE or m == node:
                    continue
                if _entry_matches(doc, m, e, node):
                    return True
        return False
    if name == "contains":
        return payload in _subtree_text(doc, node)
    if name == "lang":
        val = _inherited_attr(doc, node, "lang")
        if val is None:
            return False
        val = val.lower()
        for want in payload:
            w = want.lower().strip("\"'")
            if val == w or val.startswith(w + "-") or w == "*":
                return True
        return False
    if name == "dir":
        val = _inherited_attr(doc, node, "dir")
        return val is not None and val.lower() == payload
    if name == "drop":
        # :drop() reflects live drag-and-drop state (old HTML drag spec);
        # a static DOM has no active drop targets, so it parses (exposed
        # in the AST like the reference, DOM.xs:565-666) and matches
        # nothing — pinned by tests/test_selectors.py
        return False
    return False


def _entry_matches(doc: Document, node: int, entry: Entry, scope) -> bool:
    k = len(entry.steps) - 1
    return _match_compound(doc, node, entry.steps[k][1], scope) and \
        _match_left(doc, node, entry.steps, k, scope)


def _subtree_text(doc: Document, node: int) -> str:
    out = []
    for n in doc.iter_subtree(node, include_self=False):
        if doc.node_type[n] == TEXT_NODE and doc.text[n]:
            out.append(doc.text[n])
    return "".join(out)


def _inherited_attr(doc: Document, node: int, name: str) -> str | None:
    n = node
    while n != NULL:
        attrs = doc.attrs[n]
        if attrs and name in attrs:
            return attrs[name]
        n = doc.parent[n]
    return None
