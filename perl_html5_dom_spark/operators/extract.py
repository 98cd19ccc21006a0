"""The parse → query → extract kernel as an Arrow-vectorized Spark operator.

This is the Spark restatement of the reference's three top entry points
(/root/reference/DOM.xs:934-971 parse, DOM.xs:218-284 find/at,
utils.c:439-576 innerText): one ``mapInArrow`` pass over batches of
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
  * batches cross the JVM→Python boundary as Arrow record batches
    (mapInArrow, no pandas step), the analog of the reference's Perl↔XS
    boundary; zero per-row Python UDFs, and a duplicate row costs one
    memo probe (its result is copied with Arrow ``take``);
  * selector compilation happens once on the driver and ships to
    executors inside the closure — the analog of the reference's
    precompiled-selector reuse (DOM.pod:2544-2551).

Everything around the per-document body — memo, null payloads,
truncation and containment — is the shared runner's job
(:func:`..util.map_documents`; policy in the :mod:`..util` docstring).

One render per document: ``extract_one`` renders the body's innerText
once with the paragraph hook (``innertext.inner_text(doc, body,
paragraphs)``), which also records every rendered ``<p>``'s own
innerText; ``main_text`` then makes one stats walk to pick the main
container and joins its paragraphs' recorded texts.  A recorded text is
byte-identical to rendering that ``<p>`` alone (the invariant is in the
:mod:`..dom.innertext` docstring); a ``<p>`` the body render skipped
(display-none, ``textarea``/``input``/``audio``/``video``, outside
``<body>``) is rendered on its own, and a main container without
paragraphs reuses the body's text when it is the body.
"""

from __future__ import annotations

import re

from ..dom import innertext, serializer
from ..dom.constants import ELEMENT_NODE, TEXT_NODE
from ..dom.document import NULL, Document
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


# what leaving an element does with its subtree's sums
_PLAIN, _BLOCKED, _LINK, _PARA, _CANDIDATE = range(5)


def _boilerplate_attrs(attrs: dict) -> bool:
    """The element's class/id tokens mark a boilerplate subtree."""
    blob = (attrs.get("class") or "") + " " + (attrs.get("id") or "")
    return BLOCK_CLASS_RE.search(blob) is not None


def select_main_node(doc: Document) -> tuple[int, set[int]]:
    """Pick the main-content container: the candidate element with the
    highest boilerplate-discounted text density score; returns it with
    the set of blocked elements.

    score = (text_len - link_text_len) * (1 + p_text_len / text_len),
    where blocked subtrees count nothing towards their ancestors and
    p_text_len favours paragraph-bearing containers; among candidates in
    document order, a deeper container with ≥95% of the best score wins,
    so we don't always answer <body>.

    One enter/exit walk from the document node: blocked state and depth
    on the way down, the three text sums handed to the parent on the
    way up (the open ancestors' sums wait on a stack)."""
    tags, attrs_arr = doc.tag, doc.attrs
    node_type, texts = doc.node_type, doc.text
    first_child, next_sib, parent = doc.first_child, doc.next_sib, doc.parent
    block_tags, cand_tags = BLOCK_TAGS, CANDIDATE_TAGS
    root = doc.root
    blocked: set[int] = set()
    cands: list = []        # (node, depth), document order
    scores: dict = {}       # candidate -> score, when it holds text
    frames: list = []       # per open ancestor: its sums so far, its role
    t = l = p = 0           # text, link-text and <p>-text sums of the node
    depth = 1
    node = first_child[root]
    while node != NULL:
        nt = node_type[node]
        if nt == TEXT_NODE:
            text = texts[node]
            if text:
                t += len(text)
            role = None
        else:
            role = _PLAIN
            if nt == ELEMENT_NODE:
                tag = tags[node]
                attrs = attrs_arr[node]
                if tag in block_tags or (attrs and _boilerplate_attrs(attrs)):
                    blocked.add(node)
                    role = _BLOCKED
                elif tag == "a":
                    role = _LINK
                elif tag == "p":
                    role = _PARA
                elif tag in cand_tags:
                    cands.append((node, depth))
                    role = _CANDIDATE
            child = first_child[node]
            if child != NULL:
                frames.append((t, l, p, role))
                t = l = p = 0
                depth += 1
                node = child
                continue
            # no children: every sum is 0, the parent's stay as they are
        while True:
            sib = next_sib[node]
            if sib != NULL:
                node = sib
                break
            node = parent[node]
            if node == root:
                node = NULL
                break
            # leave ``node``: t, l, p are its subtree's sums
            depth -= 1
            pt, pl, pp, role = frames.pop()
            if role == _BLOCKED:
                t, l, p = pt, pl, pp
                continue
            if role == _LINK:
                l = t
            elif role == _PARA:
                p = t
            elif role == _CANDIDATE and t:
                scores[node] = (t - l) * (1.0 + p / t)
            t += pt
            l += pl
            p += pp
    best, best_score, best_depth = doc.body_node, -1.0, -1
    for node, depth in cands:
        score = scores.get(node)
        if score is None:
            continue
        # a deeper container with ≥95% of the best score is a tighter
        # main-content bound (body/main/article often tie exactly)
        if score > best_score * 1.0526 or (
                score >= best_score * 0.95 and depth > best_depth):
            best, best_depth = node, depth
            best_score = max(score, best_score)
    return (best if best != NULL else root), blocked


def main_text(doc: Document, paragraphs: dict | None = None) -> str:
    """Extracted main content: innerText of each <p> descendant of the
    best container (outside blocked subtrees, not inside another <p>)
    joined by blank lines; falls back to the container's own innerText
    when it holds no paragraphs.

    ``paragraphs`` is what a render with the paragraph hook recorded
    (``innertext.inner_text(doc, body, paragraphs)``): each text is
    taken from it, and rendered here only when that render did not
    reach it."""
    root, blocked = select_main_node(doc)
    if paragraphs is None:
        paragraphs = {}
    tags, node_type = doc.tag, doc.node_type
    first_child, next_sib, parent = doc.first_child, doc.next_sib, doc.parent
    paras: list[str] = []
    node = first_child[root]
    while node != NULL:
        if node in blocked:
            pass    # a boilerplate subtree
        elif tags[node] == "p" and node_type[node] == ELEMENT_NODE:
            text = paragraphs.get(node)
            if text is None:
                text = innertext.inner_text(doc, node)
            if text:
                paras.append(text)
        else:
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
            if node == root:
                node = NULL
                break
    if paras:
        return "\n\n".join(paras)
    text = paragraphs.get(root)
    return innertext.inner_text(doc, root) if text is None else text


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

#: the ``title`` field's selector, parsed once per process
_TITLE = matcher.compile_selector("title")


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
        nid = matcher.at(doc, _TITLE)
        out["title"] = serializer.text_content(doc, nid) if nid != -1 else ""
    body = doc.body_node if doc.body_node != -1 else doc.root
    # one body render: main_text takes its paragraphs from it
    paragraphs: dict = {}
    if "inner_text" in fields:
        out["inner_text"] = innertext.inner_text(doc, body, paragraphs)
    if "main_text" in fields:
        out["main_text"] = main_text(doc, paragraphs)
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
