"""Deterministic synthetic PDF corpus (layout-parse oracle family).

The north rule's extraction pipeline includes "PDF/layout parse"
alongside HTML boilerplate strip.  No external data is allowed, so —
exactly like the HTML families in :mod:`.pages` — each row of the
driver's ``documents`` table becomes one PDF whose *bytes* are built
kernel-side from ``(doc_id, text)`` while the *expected extracted
text* is a pure SQL expression DuckDB can evaluate independently.
The corpus deliberately rotates over the PDF file-structure variants
(``doc_id % 4``) so every xref path of :mod:`..dom.pdf` is under the
oracle:

    0: classic xref table, uncompressed content streams
    1: classic xref table, FlateDecode content streams
    2: PDF 1.5 xref *stream* (PNG Up predictor) + catalog/font inside
       an object stream (ObjStm), FlateDecode content
    3: PDF 1.5 xref stream, no predictor, FlateDecode content

All four variants encode the SAME document, so the oracle expression
does not depend on the variant — matching proves the four parse paths
agree byte-for-byte.

Page layout (content-stream operators deliberately emitted OUT of
reading order — footer first, heading last — so only correct layout
assembly can produce the expected text):

    y=760  "Doc {id}"                  heading, Tm positioning
    y=720  "{text}"                    body (the documents row text)
    y=686- "item j of {id}" (j=1..k)   k = id%3+1, via TL/T* line ops
    y=600  "(pdf)"                     escaped parens in literal string
    y=580  "kern{id}"                  one TJ op split across 3 pieces
    y=560  "left" + "right{id}"        two show ops on one line (x-sort)
    y=540  "hex {id}"                  hex-string show op
    y=40   "page 1 of {n} doc {id}"    footer (n = id%2+1 pages)
    page 2 (when n=2): "second page of {id}" / "page 2 of 2 doc {id}"

Lines joined with chr(10), pages with chr(12) (form feed).
"""

from __future__ import annotations

import zlib

from ..util import map_documents
from .pages import cast_str, read_docs

#: number of file-structure variants (doc_id % N_VARIANTS)
N_VARIANTS = 4


# ---------------------------------------------------------------------------
# PDF byte generation
# ---------------------------------------------------------------------------


def _esc(s: str) -> bytes:
    """Literal-string escaping (PDF §7.3.4.2)."""
    return (s.replace("\\", "\\\\").replace("(", "\\(")
            .replace(")", "\\)")).encode("latin-1")


def _content_page1(doc_id: int, text: str) -> bytes:
    i = str(doc_id)
    k = doc_id % 3 + 1
    n_pages = doc_id % 2 + 1
    items = b" ".join(
        b"T* (" + _esc(f"item {j} of {i}") + b") Tj" for j in range(1, k + 1))
    parts = [
        # footer FIRST: reading order must come from layout, not stream order
        b"BT /F1 10 Tf 72 40 Td (" + _esc(f"page 1 of {n_pages} doc {i}")
        + b") Tj ET",
        b"BT /F1 12 Tf 72 720 Td (" + _esc(text) + b") Tj ET",
        b"BT /F1 12 Tf 14 TL 72 700 Td " + items + b" ET",
        b"BT /F1 12 Tf 72 600 Td (\\(pdf\\)) Tj ET",
        b"BT /F1 12 Tf 1 0 0 1 72 580 Tm [ (ke) -30 (rn) 20 ("
        + _esc(i) + b") ] TJ ET",
        b"BT /F1 12 Tf 72 560 Td (left) Tj 228 0 Td ("
        + _esc(f"right{i}") + b") Tj ET",
        b"BT /F1 12 Tf 72 540 Td <" + f"hex {i}".encode().hex().encode()
        + b"> Tj ET",
        # heading LAST
        b"BT /F1 18 Tf 72 760 Td (" + _esc(f"Doc {i}") + b") Tj ET",
    ]
    return b"\n".join(parts)


def _content_page2(doc_id: int) -> bytes:
    i = str(doc_id)
    return b"\n".join([
        b"BT /F1 10 Tf 72 40 Td (" + _esc(f"page 2 of 2 doc {i}") + b") Tj ET",
        b"BT /F1 12 Tf 72 760 Td (" + _esc(f"second page of {i}") + b") Tj ET",
    ])


def _stream_obj(d_extra: bytes, payload: bytes, compress: bool) -> bytes:
    if compress:
        payload = zlib.compress(payload)
        filt = b"/Filter /FlateDecode "
    else:
        filt = b""
    return (b"<< " + d_extra + filt + b"/Length " + str(len(payload)).encode()
            + b" >>\nstream\n" + payload + b"\nendstream")


def pdf_bytes(doc_id: int, text: str) -> bytes:
    """Build one deterministic PDF for (doc_id, text)."""
    variant = doc_id % N_VARIANTS
    n_pages = doc_id % 2 + 1
    compress = variant != 0

    catalog = b"<< /Type /Catalog /Pages 2 0 R >>"
    font = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    kids = b"[3 0 R]" if n_pages == 1 else b"[3 0 R 5 0 R]"
    pages = (b"<< /Type /Pages /Kids " + kids + b" /Count "
             + str(n_pages).encode() + b" >>")
    page_d = (b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
              b"/Resources << /Font << /F1 4 0 R >> >> /Contents %d 0 R >>")
    bodies: dict[int, bytes] = {
        2: pages,
        3: page_d % 6,
        6: _stream_obj(b"", _content_page1(doc_id, text), compress),
    }
    if n_pages == 2:
        bodies[5] = page_d % 7
        bodies[7] = _stream_obj(b"", _content_page2(doc_id), compress)

    if variant < 2:
        bodies[1] = catalog
        bodies[4] = font
        return _emit_classic(bodies)
    return _emit_xrefstream(bodies, catalog, font,
                            predictor=(variant == 2))


def _emit_classic(bodies: dict[int, bytes]) -> bytes:
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(bodies):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + bodies[num] + b"\nendobj\n"
    size = max(bodies) + 1
    xref_pos = len(out)
    out += b"xref\n0 %d\n" % size
    out += b"0000000000 65535 f \n"
    for num in range(1, size):
        out += b"%010d 00000 n \n" % offsets.get(num, 0)
    out += (b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (size, xref_pos))
    return bytes(out)


def _emit_xrefstream(bodies: dict[int, bytes], catalog: bytes, font: bytes,
                     predictor: bool) -> bytes:
    """PDF 1.5 layout: catalog (1) + font (4) live inside an ObjStm
    (object 8); the cross-reference is itself a stream (object 9)."""
    out = bytearray(b"%PDF-1.5\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(bodies):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + bodies[num] + b"\nendobj\n"

    # object stream holding objects 1 and 4
    objstm_payload = catalog + b"\n" + font
    head = b"1 0 4 %d" % (len(catalog) + 1)
    first = len(head) + 1
    stm_data = head + b"\n" + objstm_payload
    offsets[8] = len(out)
    out += (b"8 0 obj\n"
            + _stream_obj(b"/Type /ObjStm /N 2 /First %d " % first,
                          stm_data, compress=True)
            + b"\nendobj\n")

    size = 10
    xref_pos = len(out)
    # W = [1 4 2]; rows for objects 0..9
    rows = []
    for num in range(size):
        if num == 0:
            rows.append((0, 0, 65535))
        elif num == 1:
            rows.append((2, 8, 0))       # in ObjStm 8, index 0
        elif num == 4:
            rows.append((2, 8, 1))       # in ObjStm 8, index 1
        elif num in offsets:
            rows.append((1, offsets[num], 0))
        else:
            rows.append((0, 0, 0))       # free (gap objects)
    raw = b"".join(
        bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
        for t, f2, f3 in rows)
    if predictor:
        rowlen = 7
        pred_rows = bytearray()
        prev = bytes(rowlen)
        for r in range(0, len(raw), rowlen):
            row = raw[r:r + rowlen]
            pred_rows += b"\x02" + bytes(
                (row[i] - prev[i]) & 0xFF for i in range(rowlen))
            prev = row
        payload = zlib.compress(bytes(pred_rows))
        parms = b"/DecodeParms << /Predictor 12 /Columns 7 >> "
    else:
        payload = zlib.compress(raw)
        parms = b""
    out += (b"9 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Index [0 %d] "
            % (size, size)
            + b"/Root 1 0 R /Filter /FlateDecode " + parms
            + b"/Length %d >>\nstream\n" % len(payload)
            + payload + b"\nendstream\nendobj\n")
    out += b"startxref\n%d\n%%%%EOF\n" % xref_pos
    return bytes(out)


# ---------------------------------------------------------------------------
# Spark corpus + DuckDB oracle expressions
# ---------------------------------------------------------------------------


def pdf_url_expr(dialect: str, id_col: str = "doc_id") -> str:
    return f"'https://example.org/pdf/' || {cast_str(id_col, dialect)}"


def pdf_docs_df(spark, sf_dir: str):
    """Spark DataFrame (doc_id, url, pdf binary): the PDF corpus.

    At 100 TB this is a binary column scan of the crawl table; the
    generator is the small-scale stand-in mandated by the no-external-
    data rule, and runs inside the Arrow kernel (no driver loop)."""
    docs = read_docs(spark, sf_dir)

    def body(did, text):
        did = int(did)
        return {"url": f"https://example.org/pdf/{did}",
                "pdf": pdf_bytes(did, str(text))}

    return map_documents(docs, ("doc_id",), ("doc_id", "text"), body,
                         {"url": "string", "pdf": "binary"},
                         empty_row={"url": None, "pdf": None})


def expected_text_expr(id_col: str = "doc_id",
                       text_col: str = "text") -> str:
    """DuckDB expression: the layout-ordered extracted text, derived
    from (doc_id, text) arithmetic alone — never from our parser."""
    i = f"cast({id_col} as varchar)"
    nl = "chr(10)"
    ff = "chr(12)"
    items = (f"array_to_string(list_transform(generate_series(1, "
             f"{id_col} % 3 + 1), j -> 'item ' || cast(j as varchar) || "
             f"' of ' || {i}), {nl})")
    page1 = (
        f"'Doc ' || {i} || {nl} || {text_col} || {nl} || {items} || {nl} || "
        f"'(pdf)' || {nl} || 'kern' || {i} || {nl} || "
        f"'left right' || {i} || {nl} || 'hex ' || {i} || {nl} || "
        f"'page 1 of ' || cast({id_col} % 2 + 1 as varchar) || ' doc ' || {i}"
    )
    page2 = (f"case when {id_col} % 2 = 1 then {ff} || "
             f"'second page of ' || {i} || {nl} || "
             f"'page 2 of 2 doc ' || {i} else '' end")
    return f"({page1} || {page2})"


def pdf_oracle_cte(docs_rel: str = "documents") -> str:
    """DuckDB CTE producing (doc_id, url, expected text, n_pages)."""
    return (
        f"select doc_id, {pdf_url_expr('duck')} as url, "
        f"{expected_text_expr()} as text, "
        f"cast(doc_id % 2 + 1 as bigint) as n_pages from {docs_rel}"
    )
