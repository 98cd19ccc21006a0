"""Seeded input generator for the extraction benchmark.

Every workload is built from a seeded ``documents`` table with the same
schema and word statistics as the repo's ``documents`` parquet
(``doc_id, text, lang``; 10-100 words from a 31-word vocabulary), fed
through the repo's own page and PDF generators:

* HTML families: the DuckDB-dialect ``sources.pages.*_select_sql``
  (pages, messy, hostile, hostile2), evaluated by DuckDB;
* PDFs: ``sources.pdfs.pdf_bytes``;
* library pages: ``<div>``-wrapped bodies of the hostile and hostile2
  templates, concatenated into crawl-sized documents.

Spark inputs are written as one parquet file per Spark slot before any
timing, so every run of a workload has the same task count (one task per
slot).

Run ``python3 perfbench/inputs.py --workload html_distinct --seed 1`` to
print the input digest of one workload.
"""

from __future__ import annotations

import argparse
import hashlib
import math
import os
import random
import sys
from dataclasses import dataclass

VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()
LANGS = ("en", "en", "en", "fr", "zh", "de", "es")

#: HTML families of html_distinct: oracle name prefix -> select builder
FAMILIES = ("pages", "messy", "hostile", "hostile2")

#: rows per workload (library_large: distinct pages cycled by the caller)
SIZES = {
    "html_distinct": 3000,     # documents per family (x4 families)
    "html_dup": 3072,          # distinct pages, each stored REPLICATE times
    "pdf_distinct": 8000,
    "library_large": 400,
}
REPLICATE = 8

#: library page size shape: pieces per page (median, log-sd, max), and
#: the bytes one piece counts for (about the mean ``<div>``-wrapped piece)
LIB_PIECES_MEDIAN = 9
LIB_PIECES_SIGMA = 1.0
LIB_PIECES_MAX = 360
LIB_PIECE_BYTES = 560


@dataclass
class Inputs:
    """One workload's inputs.

    ``rows`` is the list of (url, payload bytes) in file order;
    ``expected`` maps url -> the oracle's expected output for that row
    (see ``oracle.py``); ``digest`` hashes every row."""
    workload: str
    rows: list
    expected: dict
    digest: str
    n_bytes: int


def documents(seed: int, n: int):
    """Seeded ``documents`` table as a pandas frame (doc_id, text, lang)."""
    import pandas as pd

    rnd = random.Random(f"documents/{seed}/{n}")
    texts, langs = [], []
    for _ in range(n):
        k = rnd.randint(10, 100)
        texts.append(" ".join(rnd.choice(VOCAB) for _ in range(k)))
        langs.append(rnd.choice(LANGS))
    return pd.DataFrame({"doc_id": list(range(n)), "text": texts,
                         "lang": langs})


def _duck(docs):
    import duckdb

    con = duckdb.connect()
    con.register("documents", docs)
    return con


def _digest(rows) -> str:
    h = hashlib.sha256()
    for url, payload in rows:
        h.update(url.encode())
        h.update(b"\0")
        h.update(hashlib.sha256(payload).digest())
    return h.hexdigest()


def html_distinct(seed: int) -> Inputs:
    from perl_html5_dom_spark.queries import ORACLES
    from perl_html5_dom_spark.sources import pages as pg

    docs = documents(seed, SIZES["html_distinct"])
    con = _duck(docs)
    select = {"pages": pg.pages_select_sql, "messy": pg.messy_select_sql,
              "hostile": pg.hostile_select_sql,
              "hostile2": pg.hostile2_select_sql}
    rows = []
    for fam in FAMILIES:
        rows += con.sql(
            f"select url, html_str from ({select[fam](pg.DUCK, 'documents')})"
        ).fetchall()
    rows = [(u, h.encode()) for u, h in rows]
    random.Random(f"order/{seed}").shuffle(rows)

    expected = {u: {} for u, _ in rows}
    inner = {"pages": "extract_inner_text", "messy": "messy_inner_text",
             "hostile": "hostile_inner_text",
             "hostile2": "hostile2_inner_text"}
    for fam in FAMILIES:
        for u, t in con.sql(ORACLES[inner[fam]]).fetchall():
            expected[u]["inner_text"] = t
    _pages_main_and_spans(con, expected, lambda u: u)
    return Inputs("html_distinct", rows, expected, _digest(rows),
                  sum(len(h) for _, h in rows))


def _pages_main_and_spans(con, expected: dict, url_of) -> None:
    """Add the pages family's main_text and link-span oracles; ``url_of``
    maps an input url to the oracle's (un-replicated) url."""
    from perl_html5_dom_spark.queries import ORACLES

    main = dict(con.sql(ORACLES["extract_main_text"]).fetchall())
    spans: dict = {}
    for u, b, n in con.sql(ORACLES["link_spans"]).fetchall():
        spans.setdefault(u, []).append((b, n))
    for u, exp in expected.items():
        base = url_of(u)
        if base in main:
            exp["main_text"] = main[base]
            exp["spans"] = sorted(spans.get(base, []))


def html_dup(seed: int) -> Inputs:
    """The ``bench.py`` shape: each pages-family document stored
    REPLICATE times with per-copy urls, copies adjacent."""
    from perl_html5_dom_spark.queries import ORACLES
    from perl_html5_dom_spark.sources import pages as pg

    docs = documents(seed, SIZES["html_dup"])
    con = _duck(docs)
    sql = pg.pages_select_sql(pg.DUCK, "documents", replicate=REPLICATE)
    rows = [(u, h.encode()) for u, h in con.sql(
        f"select url, html_str from ({sql}) order by doc_id, r").fetchall()]

    def base(u: str) -> str:
        return u.rsplit("/", 1)[0]

    inner = dict(con.sql(ORACLES["extract_inner_text"]).fetchall())
    expected = {u: {"inner_text": inner[base(u)]} for u, _ in rows}
    _pages_main_and_spans(con, expected, base)
    return Inputs("html_dup", rows, expected, _digest(rows),
                  sum(len(h) for _, h in rows))


def pdf_distinct(seed: int) -> Inputs:
    from perl_html5_dom_spark.queries import ORACLES
    from perl_html5_dom_spark.sources import pdfs as pf

    docs = documents(seed, SIZES["pdf_distinct"])
    con = _duck(docs)
    rows = [(f"https://example.org/pdf/{int(i)}", pf.pdf_bytes(int(i), t))
            for i, t in zip(docs["doc_id"], docs["text"])]
    random.Random(f"order/{seed}").shuffle(rows)
    text = dict(con.sql(ORACLES["pdf_extract_text"]).fetchall())
    pages = dict(con.sql(
        f"select url, n_pages from ({pf.pdf_oracle_cte()})").fetchall())
    expected = {u: {"text": text[u], "n_pages": pages[u]} for u, _ in rows}
    return Inputs("pdf_distinct", rows, expected, _digest(rows),
                  sum(len(p) for _, p in rows))


def _body(html: str) -> str:
    return html.split("<body>", 1)[1].rsplit("</body>", 1)[0]


def library_pieces(n_pages: int) -> list:
    """Pieces per library page: the quantiles of a clipped log-normal,
    the same for every seed."""
    out = []
    for i in range(n_pages):
        q = (i + 0.5) / n_pages
        z = _norm_ppf(q)
        k = round(LIB_PIECES_MEDIAN * math.exp(LIB_PIECES_SIGMA * z))
        out.append(max(2, min(LIB_PIECES_MAX, k)))
    return out


def _norm_ppf(q: float) -> float:
    from statistics import NormalDist

    return NormalDist().inv_cdf(q)


def library_large(seed: int) -> Inputs:
    """Crawl-sized pages of ``<div>``-wrapped hostile/hostile2 bodies;
    the expected ``body().html()`` is the concatenation of the per-piece
    ``*_serialized_expr`` bodies, each wrapped the same way.

    Page ``i`` takes pieces until it holds ``library_pieces()[i] x
    LIB_PIECE_BYTES`` bytes, so every seed has the same page sizes to
    within one piece (the seed picks the text and the order): the
    largest page, which sets the loop's peak memory, and the cost of a
    pass over all pages do not depend on the seed."""
    from perl_html5_dom_spark.sources import pages as pg

    targets = [k * LIB_PIECE_BYTES
               for k in library_pieces(SIZES["library_large"])]
    # pieces are 10-100 words, so a quarter more than the mean covers
    # the page targets
    docs = documents(seed, math.ceil(sum(targets) / LIB_PIECE_BYTES * 1.25))
    con = _duck(docs)
    pieces = con.sql(
        f"select doc_id, "
        f"case when doc_id % 2 = 0 then {pg.hostile_html_expr(pg.DUCK)} "
        f"else {pg.hostile2_html_expr(pg.DUCK)} end as html, "
        f"case when doc_id % 2 = 0 then {pg.hostile_serialized_expr(pg.DUCK)} "
        f"else {pg.hostile2_serialized_expr(pg.DUCK)} end as ser "
        f"from documents order by doc_id").fetchall()
    rnd = random.Random(f"library/{seed}")
    rnd.shuffle(pieces)
    wrapped = iter([(i, f"<div>{_body(h)}</div>", f"<div>{_body(s)}</div>")
                    for i, h, s in pieces])
    rows, expected = [], {}
    for page, target in enumerate(targets):
        chunk, size = [], 0
        while size < target:
            chunk.append(next(wrapped))
            size += len(chunk[-1][1])
        url = f"https://example.org/library/{page}"
        html = ("<!DOCTYPE html><html><head></head><body>"
                + "".join(h for _i, h, _s in chunk) + "</body></html>")
        expected[url] = {
            "body_html": "<body>" + "".join(s for _i, _h, s in chunk)
                         + "</body>",
            "n_links": sum(1 for i, _h, _s in chunk if i % 2 == 1),
        }
        rows.append((url, html.encode()))
    rnd.shuffle(rows)
    return Inputs("library_large", rows, expected, _digest(rows),
                  sum(len(h) for _, h in rows))


BUILDERS = {
    "html_distinct": html_distinct,
    "html_dup": html_dup,
    "pdf_distinct": pdf_distinct,
    "library_large": library_large,
}


def build(workload: str, seed: int) -> Inputs:
    return BUILDERS[workload](seed)


def write_parquet(inputs: Inputs, out_dir: str, n_files: int,
                  payload_col: str) -> None:
    """Write ``inputs.rows`` as ``n_files`` contiguous parquet files of
    (url, payload) so each file is one Spark task; file sizes are kept
    multiples of REPLICATE rows so no replica group straddles files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    n = len(inputs.rows)
    per = math.ceil(n / n_files / REPLICATE) * REPLICATE
    for f in range(n_files):
        part = inputs.rows[f * per:(f + 1) * per]
        table = pa.table({
            "url": pa.array([u for u, _ in part], pa.string()),
            payload_col: pa.array([p for _, p in part], pa.binary()),
        })
        pq.write_table(table, os.path.join(out_dir, f"part-{f:05d}.parquet"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(BUILDERS))
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args(argv)
    sys.path.insert(0, os.getcwd())
    inp = build(a.workload, a.seed)
    print(f"{a.workload} seed={a.seed} rows={len(inp.rows)} "
          f"bytes={inp.n_bytes} digest={inp.digest}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
