"""Tests of the benchmark's input generator and output check.

Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import inputs  # noqa: E402
import libloop  # noqa: E402
import oracle  # noqa: E402
import spans  # noqa: E402


@pytest.mark.parametrize("workload", sorted(inputs.BUILDERS))
def test_seed_fixes_the_inputs(workload):
    a = inputs.build(workload, 7)
    b = inputs.build(workload, 7)
    c = inputs.build(workload, 8)
    assert a.digest == b.digest
    assert a.digest != c.digest
    assert len(a.rows) == len(a.expected) == len(c.rows)


def test_parquet_layout_is_one_file_per_task(tmp_path):
    import pyarrow.parquet as pq

    inp = inputs.build("html_dup", 1)
    inputs.write_parquet(inp, str(tmp_path), 4, "html")
    files = sorted(os.listdir(tmp_path))
    assert len(files) == 4
    sizes = [pq.read_metadata(tmp_path / f).num_rows for f in files]
    assert sum(sizes) == len(inp.rows)
    assert all(n % inputs.REPLICATE == 0 for n in sizes)


def _html_rows(inp, n):
    rows = []
    outs = spans.primary_loop("html", [h for _u, h in inp.rows[:n]])
    for (url, _h), out in zip(inp.rows, outs):
        row = {"url": url, "err": None, **out}
        row["spans"] = [{"node_id": i, "begin": b, "length": k}
                        for i, b, k in out["spans"]]
        rows.append(row)
    return rows, {u: inp.expected[u] for u, _h in inp.rows[:n]}


def test_html_check_counts_a_corrupted_row():
    inp = inputs.build("html_distinct", 1)
    rows, expected = _html_rows(inp, 40)
    assert oracle.check_rows(rows, expected)[:2] == (40, 0)
    rows[3]["inner_text"] += "x"
    assert oracle.check_rows(rows, expected)[:2] == (40, 1)
    rows[5]["err"] = "ValueError: boom"
    assert oracle.check_rows(rows, expected)[:2] == (40, 2)
    del rows[7]
    assert oracle.check_rows(rows, expected)[:2] == (40, 3)


def test_spans_and_main_text_are_checked_on_duplicates():
    inp = inputs.build("html_dup", 1)
    rows, expected = _html_rows(inp, 16)
    assert all("spans" in e and "main_text" in e for e in expected.values())
    assert oracle.check_rows(rows, expected)[:2] == (16, 0)
    rows[9]["spans"] = rows[9]["spans"][:-1]
    assert oracle.check_rows(rows, expected)[:2] == (16, 1)


def test_pdf_and_library_checks_count_a_corrupted_row():
    pdf = inputs.build("pdf_distinct", 1)
    outs = spans.primary_loop("pdf", [p for _u, p in pdf.rows[:12]])
    rows = [{"url": u, "n_pages": n, "text": t, "err": None}
            for (u, _p), (n, t) in zip(pdf.rows, outs)]
    expected = {u: pdf.expected[u] for u, _p in pdf.rows[:12]}
    assert oracle.check_rows(rows, expected)[:2] == (12, 0)
    rows[0]["text"] = rows[0]["text"][:-1]
    assert oracle.check_rows(rows, expected)[:2] == (12, 1)

    lib = inputs.build("library_large", 1)
    sample = lib.rows[:6]
    rows = spans.primary_loop("library", sample)
    expected = {u: lib.expected[u] for u, _h in sample}
    assert oracle.check_rows(rows, expected)[:2] == (6, 0)
    rows[2]["body_html"] = rows[2]["body_html"].replace("<i>", "<em>", 1)
    rows.append(dict(rows[1]))
    assert oracle.check_rows(rows, expected)[:2] == (7, 2)


def test_library_loop_outputs_are_checked(tmp_path):
    import pickle

    lib = inputs.build("library_large", 1)
    pages = lib.rows[:4]
    with open(tmp_path / "pages.pkl", "wb") as f:
        pickle.dump(pages, f)
    libloop.main(str(tmp_path / "pages.pkl"), str(tmp_path / "out.pkl"),
                 0.0, 2)
    with open(tmp_path / "out.pkl", "rb") as f:
        res = pickle.load(f)
    assert len(res["passes"]) == 2 and res["rss_mb"] > 0
    expected = oracle.digested({u: lib.expected[u] for u, _h in pages})
    rows = [{"url": u, "body_html": b, "n_links": n}
            for u, b, n in res["rows"][:4]]
    assert oracle.check_rows(rows, expected)[:2] == (4, 0)
    rows[1]["body_html"] = oracle.text_digest("<body></body>")
    assert oracle.check_rows(rows, expected)[:2] == (4, 1)


def test_traced_call_splits_into_layers():
    inp = inputs.build("html_distinct", 1)
    tr = spans.Tracer()
    spans.primary_loop("html", [h for _u, h in inp.rows[:20]], tr)
    tot = tr.totals()
    for name in ("extract.extract_one", "encoding.sniff", "fastparse.parse",
                 "selector.find", "extract.main_text",
                 "innertext.inner_text"):
        assert tot[name][0] >= 20, name
    count, total, self_ns = tot["extract.extract_one"]
    assert count == 20 and 0 < self_ns < total
    assert tr.counts["fastparse.try_parse"] == 20
