"""Row-by-row output check against the DuckDB-derived expectations.

``inputs.py`` attaches to every input url the oracle's expected values
(``queries.ORACLES`` for HTML, ``sources.pdfs.pdf_oracle_cte`` for PDF,
the concatenated ``*_serialized_expr`` bodies for library pages).  The
functions here compare produced rows with them and count failures: a row
fails if it carries ``err``, differs in any checked column, is missing,
or has an unknown url.
"""

from __future__ import annotations

import hashlib


def text_digest(text: str) -> str:
    """What the library loop keeps of each ``body().html()``."""
    return hashlib.sha1(text.encode()).hexdigest()


def digested(expected: dict) -> dict:
    """Library expectations with ``body_html`` replaced by its digest."""
    return {u: {**e, "body_html": text_digest(e["body_html"])}
            for u, e in expected.items()}


def _norm(col: str, value):
    if col == "spans" and value and isinstance(value[0], dict):
        return sorted((s["begin"], s["length"]) for s in value)
    return value


def check_rows(rows, expected: dict) -> tuple[int, int, list]:
    """Compare output ``rows`` (dicts with ``url`` and output columns)
    with ``expected``; returns (attempted, failed, first few failures).

    Every expected url is one attempt and must appear exactly once; an
    unexpected or repeated row is one more attempt, failed."""
    failed, extra, examples, seen = 0, 0, [], set()

    def fail(url, why):
        nonlocal failed
        failed += 1
        if len(examples) < 5:
            examples.append(f"{url}: {why}")

    for row in rows:
        url = row["url"]
        exp = expected.get(url)
        if exp is None or url in seen:
            extra += 1
            fail(url, "unexpected or repeated url")
            continue
        seen.add(url)
        if row.get("err") is not None:
            fail(url, f"err={row['err']!r}")
            continue
        for col, want in exp.items():
            got = _norm(col, row.get(col))
            if got != want:
                fail(url, f"{col} differs: {str(got)[:60]!r} != "
                          f"{str(want)[:60]!r}")
                break
    for url in expected.keys() - seen:
        fail(url, "missing from output")
    return len(expected) + extra, failed, examples


class Tally:
    """Running (attempted, failed) over several checked outputs, with the
    first few failures kept for the report."""

    def __init__(self) -> None:
        self.attempted = self.failed = 0
        self.examples: list = []

    def add(self, rows, expected: dict) -> None:
        a, f, ex = check_rows(rows, expected)
        self.attempted += a
        self.failed += f
        self.examples += ex[:5 - len(self.examples)]


def read_output(path: str) -> list:
    """Rows of a parquet output directory as dicts; ``spans`` becomes a
    sorted list of (begin, length) pairs, read column-wise."""
    import pyarrow.parquet as pq

    table = pq.read_table(path)
    cols = {}
    for name in table.column_names:
        col = table.column(name).combine_chunks()
        if name == "spans":
            offsets = col.offsets.to_pylist()
            flat = col.flatten()
            pairs = list(zip(flat.field("begin").to_pylist(),
                             flat.field("length").to_pylist()))
            cols[name] = [sorted(pairs[a:b])
                          for a, b in zip(offsets, offsets[1:])]
        else:
            cols[name] = col.to_pylist()
    names = list(cols)
    return [dict(zip(names, vals)) for vals in zip(*cols.values())]
