"""The parse → query → extract kernel as an Arrow-vectorized Spark operator.

This is the Spark restatement of the reference's three top entry points
(/root/reference/DOM.xs:934-971 parse, DOM.xs:218-284 find/at,
utils.c:439-576 innerText): one ``mapInPandas`` pass over batches of
``(url, html binary)`` rows that parses each document with the pure-Python
HTML5 engine (``dom/``), evaluates compiled CSS selectors broadcast from
the driver (``selector/``), strips boilerplate with DOM heuristics and
emits ``(url, text, spans, ...)`` rows.

Design for 100 TB:
  * the kernel is a black box to Catalyst, so we keep its input narrow —
    every operator selects ``(url, payload)`` before the kernel, so
    parquet scans prune to the two needed columns;
  * documents never span partitions — all tree work is partition-local,
    the only shuffle in the whole pipeline is the optional salted
    repartition (plans/pipeline.py);
  * batches cross the JVM→Python boundary via Arrow (mapInPandas), the
    analog of the reference's Perl↔XS boundary; zero per-row Python UDFs;
  * selector compilation happens once on the driver and ships to
    executors inside the closure — the analog of the reference's
    precompiled-selector reuse (DOM.pod:2544-2551).

Everything around the per-document body — memo, null payloads,
truncation and containment — is the shared runner's job
(:func:`..util.map_documents`; policy in the :mod:`..util` docstring).
"""

from __future__ import annotations

import re

from ..dom import innertext, serializer
from ..dom.constants import ELEMENT_NODE, TEXT_NODE
from ..dom.document import Document
from ..dom.fastparse import parse_document
from ..selector import matcher
from ..util import map_documents

# ---------------------------------------------------------------------------
# Boilerplate heuristics (Phase 3 of SURVEY.md §7)
# ---------------------------------------------------------------------------

#: subtrees never part of main content (tag blocklist)
BLOCK_TAGS = frozenset(
    "header footer nav aside script style template noscript form iframe "
    "button select option svg math".split()
)

#: class/id tokens marking boilerplate subtrees
BLOCK_CLASS_RE = re.compile(
    r"(?:^|[\s_-])(?:sidebar|widget|nav|navbar|menu|footer|header|banner|"
    r"breadcrumb|comment|share|social|related|promo|sponsor|ad|ads|advert|"
    r"cookie|popup|modal)(?:$|[\s_-])",
    re.I,
)

#: candidate containers for main content
CANDIDATE_TAGS = frozenset("article main section div body td".split())


def _blocked_array(doc: Document) -> list[bool]:
    """blocked[] computed once per document — _subtree_stats, candidate
    scoring and the paragraph walk all consult it (was the #1 cost of
    select_main_node when evaluated per child per pass)."""
    n = len(doc.parent)
    out = [False] * n
    tag, attrs_arr, node_type = doc.tag, doc.attrs, doc.node_type
    block_tags, cls_re = BLOCK_TAGS, BLOCK_CLASS_RE
    for nid in range(n):
        if node_type[nid] != ELEMENT_NODE:
            continue
        if tag[nid] in block_tags:
            out[nid] = True
            continue
        attrs = attrs_arr[nid]
        if attrs:
            blob = (attrs.get("class") or "") + " " + (attrs.get("id") or "")
            if blob.strip() and cls_re.search(blob):
                out[nid] = True
    return out


def _subtree_stats(doc: Document, blocked: list[bool]):
    """Per-node (text_len, link_text_len, p_text_len) with blocked
    subtrees contributing nothing — ONE bottom-up pass over the flat
    arrays (reverse pre-order), so candidate scoring is O(n) total
    instead of O(candidates × subtree)."""
    n = len(doc.parent)
    tl = [0] * n
    ll = [0] * n
    pl = [0] * n
    node_type, tag, text = doc.node_type, doc.tag, doc.text
    first_child, next_sib = doc.first_child, doc.next_sib
    for nid in reversed(doc.order):
        nt = node_type[nid]
        if nt == TEXT_NODE:
            tl[nid] = len(text[nid] or "")
            continue
        t = l = p = 0
        c = first_child[nid]
        while c != -1:
            if not blocked[c]:
                t += tl[c]
                l += ll[c]
                p += pl[c]
            c = next_sib[c]
        tl[nid] = t
        if nt == ELEMENT_NODE and tag[nid] == "a":
            ll[nid] = t
        else:
            ll[nid] = l
        if nt == ELEMENT_NODE and tag[nid] == "p":
            pl[nid] = t
        else:
            pl[nid] = p
    return tl, ll, pl


def select_main_node(doc: Document, blocked: list[bool] | None = None) -> int:
    """Pick the main-content container: the candidate element with the
    highest boilerplate-discounted text density score.

    score = (text_len - link_text_len) * (1 + p_bonus), where p_bonus
    favours paragraph-bearing containers; deeper (smaller) containers win
    ties so we don't always answer <body>.
    """
    order = doc.order
    parent = doc.parent
    depth = [0] * len(parent)
    for nid in order:
        p = parent[nid]
        depth[nid] = depth[p] + 1 if p != -1 else 0
    if blocked is None:
        blocked = _blocked_array(doc)
    stats_tl, stats_ll, stats_pl = _subtree_stats(doc, blocked)
    best, best_key = doc.body_node, (-1.0, -1)
    for nid in order:
        if doc.node_type[nid] != ELEMENT_NODE:
            continue
        if doc.tag[nid] not in CANDIDATE_TAGS:
            continue
        if blocked[nid]:
            continue
        tl, ll, pl = stats_tl[nid], stats_ll[nid], stats_pl[nid]
        if tl == 0:
            continue
        score = (tl - ll) * (1.0 + (pl / tl))
        # a deeper container with ≥95% of the best score is a tighter
        # main-content bound (body/main/article often tie exactly)
        if score > best_key[0] * 1.0526 or (
            score >= best_key[0] * 0.95 and depth[nid] > best_key[1]
        ):
            best, best_key = nid, (max(score, best_key[0]), depth[nid])
    return best if best != -1 else doc.root


def main_text(doc: Document) -> str:
    """Extracted main content: innerText of each <p> descendant of the
    best container joined by blank lines; falls back to the container's
    own innerText when it holds no paragraphs."""
    blocked = _blocked_array(doc)
    root = select_main_node(doc, blocked)
    paras: list[str] = []
    stack = [root]
    while stack:
        nid = stack.pop()
        if doc.node_type[nid] == ELEMENT_NODE:
            if nid != root and blocked[nid]:
                continue
            if doc.tag[nid] == "p":
                t = innertext.inner_text(doc, nid)
                if t:
                    paras.append(t)
                continue
        kids = []
        child = doc.first_child[nid]
        while child != -1:
            kids.append(child)
            child = doc.next_sib[child]
        stack.extend(reversed(kids))
    if paras:
        return "\n\n".join(paras)
    return innertext.inner_text(doc, root)


# ---------------------------------------------------------------------------
# Per-document kernel
# ---------------------------------------------------------------------------

#: Spark type of every extraction field (callers may project less)
_FIELD_TYPES = {
    "url": "string", "encoding": "string", "title": "string",
    "main_text": "string", "inner_text": "string", "text_content": "string",
    "n_nodes": "bigint", "n_elements": "bigint",
    "spans": "array<struct<node_id: bigint, begin: bigint, length: bigint>>",
    # per-document containment flag: null = clean; "truncated: ..." =
    # the max_html_bytes guard fired; "Type: msg" = the parse raised
    # and the row was emitted empty instead of failing the task
    "err": "string",
}
ALL_FIELDS = tuple(f for f in _FIELD_TYPES if f != "err")

#: what a null or failed document extracts to
_EMPTY_ROW = {
    "encoding": "", "title": "", "main_text": "", "inner_text": "",
    "text_content": "", "n_nodes": 0, "n_elements": 0, "spans": [],
}


def extract_one(html, span_selector=None, fields: tuple = ALL_FIELDS) -> dict:
    """Per-document kernel; computes ONLY the requested fields — the
    in-kernel analog of column pruning (a 100 TB run that wants
    (url, main_text, spans) must not pay for three extra text renders
    and their Arrow return bytes)."""
    doc = parse_document(html)
    out: dict = {}
    if "encoding" in fields:
        out["encoding"] = doc.encoding
    if "title" in fields:
        nid = matcher.at(doc, "title")
        out["title"] = serializer.text_content(doc, nid) if nid != -1 else ""
    body = doc.body_node if doc.body_node != -1 else doc.root
    if "main_text" in fields:
        out["main_text"] = main_text(doc)
    if "inner_text" in fields:
        out["inner_text"] = innertext.inner_text(doc, body)
    if "text_content" in fields:
        out["text_content"] = serializer.text_content(doc, body)
    if "n_nodes" in fields:
        out["n_nodes"] = len(doc.parent)
    if "n_elements" in fields:
        out["n_elements"] = sum(1 for t in doc.node_type if t == ELEMENT_NODE)
    if "spans" in fields:
        spans = []
        if span_selector is not None:
            for nid in matcher.find(doc, span_selector):
                # full open-tag span (reference "element" position,
                # DOM.xs:2161-2172); raw_* (tag-name region) stays on the
                # node table (operators/nodes.py)
                spans.append((nid, doc.elem_begin[nid], doc.elem_length[nid]))
        out["spans"] = spans
    return out


def extract_pages(df, span_selector: str | None = "a[href]",
                  fields: tuple | list | None = None,
                  max_html_bytes: int | None = None,
                  on_error: str = "contain"):
    """DataFrame(url, html [, ...]) → DataFrame of requested fields
    (default: ``url`` and ``ALL_FIELDS``).

    The selector is compiled ONCE here on the driver; the compiled plan
    rides the task closure to every executor (reference precompiled
    selectors, DOM.pod:2544-2551).

    Containment is on by default (the 10^12-document policy — one
    pathological page must not fail a task, 4 retries, then the whole
    job): ``max_html_bytes`` truncates oversized pages, a raising parse
    emits an empty row, and the ``"err"`` field says what happened per
    row (module docstring); the lineage layer (plans/pipeline.py)
    aggregates it per bucket.  ``on_error="raise"`` restores fail-fast
    for tests and differential fuzzing.
    """
    fields = tuple(f for f in (fields or ALL_FIELDS) if f != "url")
    kfields = tuple(f for f in fields if f != "err")
    compiled = (
        matcher.compile_selector(span_selector) if span_selector else None
    )

    def body(html):
        return extract_one(html, compiled, kfields)

    return map_documents(
        df, ("url",), "html", body, {f: _FIELD_TYPES[f] for f in fields},
        empty_row=_EMPTY_ROW, max_bytes=max_html_bytes, on_error=on_error)
