"""Spark operator: PDF text + layout extraction over a binary column.

Mirrors :mod:`.extract` for HTML: the from-scratch parser in
:mod:`..dom.pdf` is the body of the shared document runner
(``util.map_documents``) over ``(url, pdf binary)``.  One document =
one task unit (same data-parallelism rationale as HTML parse; reference
guidance on intra-parse threading,
/root/reference/lib/HTML5/DOM.pod:3228-3230), so throughput scales with
executors and the 100 TB plan is a pruned binary-column scan feeding
the kernel — no shuffle, no driver data movement.

Malformed PDFs are a fact of crawl corpora, so the runner contains
errors: a failing document emits ``n_pages = 0``, empty text and
``err`` = ``Type: message`` instead of failing the task; a null one
emits the same empty row with a null ``err``; byte-identical PDFs of a
batch are parsed once (runner policy: see :mod:`..util`).  PDFs are
never truncated — a prefix has no xref table.
"""

from __future__ import annotations

from ..dom.pdf import extract_pdf_text
from ..util import map_documents

PDF_COLUMNS = {"n_pages": "int", "text": "string", "err": "string"}


def extract_pdfs(df, pdf_col: str = "pdf"):
    """DataFrame(url, pdf) → DataFrame(url, n_pages, text, err)."""

    def body(data):
        n, text = extract_pdf_text(bytes(data))
        return {"n_pages": n, "text": text}

    return map_documents(df, ("url",), pdf_col, body, PDF_COLUMNS,
                         empty_row={"n_pages": 0, "text": ""},
                         on_error="contain")
