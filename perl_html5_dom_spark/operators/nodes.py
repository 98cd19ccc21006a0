"""Exploded DOM node table — the relational face of the engine.

One row per DOM node (the reference's "row type", SURVEY.md §1.2 /
DOM.xs:105-126): structure links become id columns, the pointer tree
becomes pre-order interval columns so structural queries are relational:

  * child axis        — self-join ``child.parent_id == parent.node_id``
    (partition-local: a document never spans partitions)
  * descendant axis   — pre-order interval containment
    ``anc.ord < d.ord AND d.ord <= anc.subtree_end`` (range join; the
    analog of the reference's subtree walk utils.c:256-304)
  * sibling position  — ``row_number() OVER (PARTITION BY url, parent_id
    ORDER BY node_id)`` (the :nth-child window, SURVEY.md §2.5)

At 100 TB you materialize this only for the selector-debug path — the
extraction kernel keeps node arrays inside the UDF; but every reference
navigation/join operator (SURVEY.md §2.3) is expressible on this table
with plain Catalyst-optimizable DataFrame ops.
"""

from __future__ import annotations

from ..dom.constants import ELEMENT_NODE
from ..util import map_documents
from .extract import parse_document

NODES_SCHEMA = (
    "url string, node_id bigint, parent_id bigint, ord bigint, "
    "subtree_end bigint, depth int, tag string, ns int, node_type int, "
    "path string, "
    "text string, attrs map<string,string>, self_closed boolean, "
    "raw_begin bigint, raw_length bigint, elem_begin bigint, elem_length bigint"
)

_TYPES = dict(p.split(" ", 1) for p in NODES_SCHEMA.split(", "))

#: columns copied straight from a per-node array: ``ord`` and
#: ``subtree_end`` from ``Document.preorder``, the rest from the
#: Document array of the same name
_ARRAY_COLUMNS = (
    "ord", "subtree_end", "tag", "ns", "node_type", "text", "attrs",
    "raw_begin", "raw_length", "elem_begin", "elem_length",
)


def nodes_df(df, elements_only: bool = False, columns: list[str] | None = None):
    """DataFrame(url, html) → node table.

    ``columns`` prunes the output inside the kernel (the analog of the
    reference's lazy node materialization, DOM.xs:159-180): structural
    queries that never read ``attrs``/``text`` skip building the
    expensive map/string Arrow columns entirely.

    Construction is COLUMNAR: the body builds one list per requested
    column (the Document already stores struct-of-arrays) and the runner
    builds one Arrow array per column from them, so unrequested columns
    cost nothing and no row list is ever pivoted."""
    keep = {c: t for c, t in _TYPES.items()
            if c != "url" and (columns is None or c in columns)}

    def one_doc(html) -> dict[str, list]:
        """Per-document column lists, one value per node (everything
        except url); the runner's memo replays them for byte-identical
        documents and flattens them onto one row per node."""
        doc = parse_document(html)
        order, pos, end = doc.preorder()
        if elements_only:
            nt = doc.node_type
            nids = [n for n in order if nt[n] == ELEMENT_NODE]
        else:
            nids = order
        d: dict[str, list] = {}
        if "node_id" in keep:
            d["node_id"] = nids
        if "parent_id" in keep:
            par = doc.parent
            d["parent_id"] = [par[n] if par[n] != -1 else None for n in nids]
        if "depth" in keep:
            # depth needs every ancestor; pre-order guarantees a
            # parent is filled before its children, so a flat
            # list (no dict hashing) suffices
            par = doc.parent
            depth = [0] * len(par)
            for n in order:
                p = par[n]
                depth[n] = depth[p] + 1 if p != -1 else 0
            d["depth"] = [depth[n] for n in nids]
        if "path" in keep:
            # root-to-node tag chain ('html>body>div'); like
            # depth, pre-order fills parents first.  The
            # site-template detector groups on this column.
            par = doc.parent
            tag = doc.tag
            nt2 = doc.node_type
            paths = [""] * len(par)
            for n in order:
                if nt2[n] != ELEMENT_NODE:
                    continue
                p = par[n]
                paths[n] = (paths[p] + ">" + tag[n]
                            if p != -1 and paths[p] else tag[n])
            d["path"] = [paths[n] if nt2[n] == ELEMENT_NODE else None
                         for n in nids]
        if "self_closed" in keep:
            sc = doc.self_closed
            d["self_closed"] = [bool(sc[n]) for n in nids]
        walk = {"ord": pos, "subtree_end": end}
        for c in _ARRAY_COLUMNS:
            if c in keep:
                arr = walk[c] if c in walk else getattr(doc, c)
                d[c] = [arr[n] for n in nids]
        return d

    return map_documents(df, ("url",), "html", one_doc, keep)


def frequent_paths(pages, min_frac: float = 0.9):
    """Site-template (boilerplate) detection by DOM-path frequency:
    (path, n_pages, frac, boilerplate) — a root-to-node tag chain that
    appears on ≥ ``min_frac`` of a site's pages is chrome
    (header/nav/footer skeletons repeat; article content paths vary).
    The complement of text-density scoring: structural evidence for
    the boilerplate strip, computed site-wide instead of per-page.

    Plan: per-page DISTINCT paths (map-side combine inside the
    aggregate), one partial-agg groupBy(path), and the page total rides
    in as a broadcast 1-row relation — two narrow shuffles, no driver
    collect."""
    from pyspark.sql import functions as F

    nd = nodes_df(pages, elements_only=True, columns=["url", "path"])
    per_page = nd.distinct()
    total = pages.agg(F.count("*").alias("n_total"))
    return (
        per_page.groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n_pages"))
        .crossJoin(F.broadcast(total))
        .selectExpr(
            "path", "n_pages",
            "round(n_pages / n_total, 6) as frac",
            f"n_pages / n_total >= {min_frac} as boilerplate")
    )
