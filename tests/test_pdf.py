"""PDF parser + layout extraction tests (dom/pdf.py, sources/pdfs.py).

The corpus round-trip locks the four file-structure variants; the
hand-built fixtures here lock the spec corners a real crawl hits:
indirect /Length, incremental updates (/Prev chains), repair scans,
string escape forms, filters, multi-stream pages, nested page trees.
"""

from __future__ import annotations

import zlib

import pytest

from perl_html5_dom_spark.dom.pdf import (
    PdfError, PdfParser, extract_pdf_text, pdf_page_count)
from perl_html5_dom_spark.sources.pdfs import N_VARIANTS, pdf_bytes


def expected_text(doc_id: int, text: str) -> str:
    i = str(doc_id)
    k = doc_id % 3 + 1
    n = doc_id % 2 + 1
    items = "\n".join(f"item {j} of {i}" for j in range(1, k + 1))
    page1 = (f"Doc {i}\n{text}\n{items}\n(pdf)\nkern{i}\n"
             f"left right{i}\nhex {i}\npage 1 of {n} doc {i}")
    page2 = (f"\x0csecond page of {i}\npage 2 of 2 doc {i}"
             if n == 2 else "")
    return page1 + page2


# ---------------------------------------------------------------------------
# corpus round-trip: generator variants x parser paths
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("doc_id", range(8))
def test_corpus_roundtrip_all_variants(doc_id):
    text = f"body text with (parens) and back\\slash {doc_id}"
    n, t = extract_pdf_text(pdf_bytes(doc_id, text))
    assert n == doc_id % 2 + 1
    assert t == expected_text(doc_id, text)


def test_variants_cover_all_structures():
    assert N_VARIANTS == 4
    classic = pdf_bytes(0, "x")
    flate = pdf_bytes(1, "x")
    xrefstm_pred = pdf_bytes(2, "x")
    xrefstm = pdf_bytes(3, "x")
    assert b"\nxref\n" in classic and b"/FlateDecode" not in classic
    assert b"\nxref\n" in flate and b"/FlateDecode" in flate
    assert b"/Type /XRef" in xrefstm_pred and b"/Predictor 12" in xrefstm_pred
    assert b"/ObjStm" in xrefstm_pred
    assert b"/Type /XRef" in xrefstm and b"/Predictor" not in xrefstm


# ---------------------------------------------------------------------------
# hand-built minimal PDFs
# ---------------------------------------------------------------------------


def build_pdf(objects: dict[int, bytes], trailer_extra: bytes = b"",
              root: int = 1) -> bytes:
    """Assemble a classic-xref PDF from {objnum: body}."""
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}
    for num in sorted(objects):
        offsets[num] = len(out)
        out += b"%d 0 obj\n" % num + objects[num] + b"\nendobj\n"
    size = max(objects) + 1
    xref_pos = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % size
    for num in range(1, size):
        out += b"%010d 00000 n \n" % offsets.get(num, 0)
    out += (b"trailer\n<< /Size %d /Root %d 0 R " % (size, root)
            + trailer_extra + b">>\nstartxref\n%d\n%%%%EOF\n" % xref_pos)
    return bytes(out)


def one_page(content: bytes, extra_objs: dict[int, bytes] | None = None,
             contents_ref: bytes = b"4 0 R") -> dict[int, bytes]:
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: (b"<< /Type /Page /Parent 2 0 R /Contents " + contents_ref
            + b" >>"),
        4: (b"<< /Length " + str(len(content)).encode()
            + b" >>\nstream\n" + content + b"\nendstream"),
    }
    objs.update(extra_objs or {})
    return objs


def test_indirect_length():
    content = b"BT /F1 12 Tf 10 700 Td (len) Tj ET"
    objs = one_page(content)
    objs[4] = (b"<< /Length 5 0 R >>\nstream\n" + content + b"\nendstream")
    objs[5] = str(len(content)).encode()
    assert extract_pdf_text(build_pdf(objs))[1] == "len"


def test_contents_array_multiple_streams():
    c1 = b"BT 10 700 Td (first) Tj ET"
    c2 = b"BT 10 680 Td (second) Tj ET"
    objs = one_page(c1, contents_ref=b"[4 0 R 5 0 R]")
    objs[5] = (b"<< /Length " + str(len(c2)).encode() + b" >>\nstream\n"
               + c2 + b"\nendstream")
    assert extract_pdf_text(build_pdf(objs))[1] == "first\nsecond"


def test_nested_page_tree_order():
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [5 0 R 4 0 R] /Count 3 >>",
        4: b"<< /Type /Page /Parent 2 0 R /Contents 8 0 R >>",
        5: b"<< /Type /Pages /Parent 2 0 R /Kids [6 0 R 7 0 R] /Count 2 >>",
        6: b"<< /Type /Page /Parent 5 0 R /Contents 9 0 R >>",
        7: b"<< /Type /Page /Parent 5 0 R /Contents 10 0 R >>",
    }
    for num, label in ((8, b"pC"), (9, b"pA"), (10, b"pB")):
        body = b"BT 10 700 Td (" + label + b") Tj ET"
        objs[num] = (b"<< /Length " + str(len(body)).encode()
                     + b" >>\nstream\n" + body + b"\nendstream")
    n, t = extract_pdf_text(build_pdf(objs))
    assert n == 3
    assert t == "pA\x0cpB\x0cpC"  # depth-first over Kids, in order


def test_incremental_update_prev_chain():
    """Second revision appends a replacement content stream and an xref
    section with /Prev — the updated object must win."""
    base = build_pdf(one_page(b"BT 10 700 Td (old) Tj ET"))
    old_xref = int(base.rsplit(b"startxref\n", 1)[1].split(b"\n", 1)[0])
    new_content = b"BT 10 700 Td (new) Tj ET"
    out = bytearray(base)
    off4 = len(out)
    out += (b"4 0 obj\n<< /Length " + str(len(new_content)).encode()
            + b" >>\nstream\n" + new_content + b"\nendstream\nendobj\n")
    xref_pos = len(out)
    out += b"xref\n4 1\n%010d 00000 n \n" % off4
    out += (b"trailer\n<< /Size 5 /Root 1 0 R /Prev " + str(old_xref).encode()
            + b" >>\nstartxref\n%d\n%%%%EOF\n" % xref_pos)
    assert extract_pdf_text(bytes(out))[1] == "new"


def test_repair_scan_on_broken_startxref():
    pdf = build_pdf(one_page(b"BT 10 700 Td (fixme) Tj ET"))
    broken = pdf.replace(b"startxref\n", b"startxref\n9999999\n%", 1)
    assert extract_pdf_text(broken)[1] == "fixme"


def test_repair_scan_finds_catalog_without_trailer():
    pdf = build_pdf(one_page(b"BT 10 700 Td (res) Tj ET"))
    # amputate everything from xref on: no table, no trailer, no startxref
    body_only = pdf[:pdf.rindex(b"xref\n")]
    assert extract_pdf_text(body_only)[1] == "res"


def test_xref_table_with_19_byte_entries(monkeypatch):
    """Entries ending in a one-byte EOL (``... n\\n``, 19 bytes) are read
    by their matched length: every offset comes from the table, and the
    repair scan never runs (stepping 20 bytes lost the next entry's
    first digit and fell back to it)."""
    pdf = build_pdf(one_page(b"BT 10 700 Td (short) Tj ET"))
    short = pdf.replace(b" n \n", b" n\n").replace(b" f \n", b" f\n")
    assert short != pdf and b" n \n" not in short

    def no_repair(self):
        raise AssertionError("repair scan ran")

    monkeypatch.setattr(PdfParser, "_repair_scan", no_repair)
    want = {n: pdf.index(b"\n%d 0 obj" % n) + 1 for n in range(1, 5)}
    assert PdfParser(pdf).xref == want
    assert PdfParser(short).xref == want
    assert extract_pdf_text(short)[1] == "short"


def test_missing_header_raises():
    with pytest.raises(PdfError):
        PdfParser(b"not a pdf at all")


# ---------------------------------------------------------------------------
# string forms, filters, operators
# ---------------------------------------------------------------------------


def run_content(content: bytes) -> str:
    return extract_pdf_text(build_pdf(one_page(content)))[1]


def test_string_escapes():
    assert run_content(
        rb"BT 10 700 Td (tab\there\(x\)\\end\101) Tj ET"
    ) == "tab\there(x)\\endA"


def test_string_nested_parens_and_continuation():
    assert run_content(
        b"BT 10 700 Td (outer (inner) back\\\n-joined) Tj ET"
    ) == "outer (inner) back-joined"


def test_hex_string_odd_digits_and_whitespace():
    # "hi!" = 68 69 21; odd final digit pads with 0: 68 69 3 -> 68 69 30
    assert run_content(b"BT 10 700 Td <68 69\n2 1> Tj ET") == "hi!"
    assert run_content(b"BT 10 700 Td <686 93> Tj ET") == "hi0"


def test_name_hash_escape_in_dict():
    objs = one_page(b"BT 10 700 Td (nm) Tj ET")
    objs[3] = (b"<< /Type /Page /Parent 2 0 R /Pie#63e (v) "
               b"/Contents 4 0 R >>")
    doc = PdfParser(build_pdf(objs))
    page = doc.pages()[0]
    assert page["Piece"] == b"v"


def test_comments_ignored():
    assert run_content(
        b"% leading comment\nBT 10 700 Td (c) Tj ET % trailing"
    ) == "c"


def test_asciihex_filter():
    content = b"BT 10 700 Td (ahx) Tj ET"
    payload = content.hex().encode() + b">"
    objs = one_page(b"")
    objs[4] = (b"<< /Filter /ASCIIHexDecode /Length "
               + str(len(payload)).encode() + b" >>\nstream\n" + payload
               + b"\nendstream")
    assert extract_pdf_text(build_pdf(objs))[1] == "ahx"


def test_filter_chain_asciihex_then_flate():
    content = b"BT 10 700 Td (chain) Tj ET"
    payload = zlib.compress(content).hex().encode() + b">"
    objs = one_page(b"")
    objs[4] = (b"<< /Filter [/ASCIIHexDecode /FlateDecode] /Length "
               + str(len(payload)).encode() + b" >>\nstream\n" + payload
               + b"\nendstream")
    assert extract_pdf_text(build_pdf(objs))[1] == "chain"


def test_unsupported_filter_raises():
    objs = one_page(b"")
    objs[4] = b"<< /Filter /DCTDecode /Length 3 >>\nstream\nxyz\nendstream"
    with pytest.raises(PdfError):
        extract_pdf_text(build_pdf(objs))


def test_quote_operators_advance_lines():
    assert run_content(
        b"BT 14 TL 10 714 Td (l1) Tj (l2) ' 0 0 (l3) \" ET"
    ) == "l1\nl2\nl3"


def test_td_vs_TD_leading():
    # TD sets leading = -ty; following T* advances by it
    assert run_content(
        b"BT 10 700 Td (a) Tj 0 -20 TD (b) Tj T* (c) Tj ET"
    ) == "a\nb\nc"


def test_tm_overrides_position():
    assert run_content(
        b"BT 1 0 0 1 10 650 Tm (low) Tj 1 0 0 1 10 750 Tm (high) Tj ET"
    ) == "high\nlow"


def test_text_outside_bt_et_ignored():
    assert run_content(b"(stray) Tj BT 10 700 Td (kept) Tj ET") == "kept"


def test_inline_image_skipped():
    assert run_content(
        b"BT 10 700 Td (before) Tj ET\n"
        b"BI /W 1 /H 1 ID \x00\xff\x00(\x29 EI\n"
        b"BT 10 680 Td (after) Tj ET"
    ) == "before\nafter"


def test_inline_image_ends_at_a_delimited_ei():
    # ``EI`` bytes inside the image data, not between whitespace and
    # whitespace or a delimiter, do not end it (§8.9.7)
    assert run_content(
        b"BT 10 700 Td (before) Tj ET\n"
        b"BI /W 8 /H 1 ID \x00EI\xffxEI(EIx\n EI\n"
        b"BT 10 680 Td (after) Tj ET"
    ) == "before\nafter"
    # an end followed by a delimiter, and one at the end of the data
    assert run_content(
        b"BI /W 1 ID \x00 EI[]BT 10 700 Td (x) Tj ET") == "x"
    assert run_content(b"BT 10 700 Td (x) Tj ET BI /W 1 ID xEI EI") == "x"
    # no delimited ``EI``: the image runs to the end of the data
    assert run_content(b"BT 10 700 Td (x) Tj ET BI ID (EIEI)") == "x"


def test_line_grouping_tolerance():
    # y within 2 units -> same line, ordered by x
    assert run_content(
        b"BT 200 700.5 Td (right) Tj ET BT 10 699 Td (left) Tj ET"
    ) == "left right"


def test_empty_page_and_no_contents():
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R >>",
    }
    n, t = extract_pdf_text(build_pdf(objs))
    assert (n, t) == (1, "")


def test_page_count_helper():
    assert pdf_page_count(pdf_bytes(1, "x")) == 2
    assert pdf_page_count(pdf_bytes(2, "x")) == 1


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------


def test_spark_extract_pdfs(spark):
    sf_dir = "/root/testdata/sf0.001"
    from perl_html5_dom_spark.operators.pdfextract import extract_pdfs
    from perl_html5_dom_spark.sources.pdfs import pdf_docs_df

    rows = extract_pdfs(pdf_docs_df(spark, sf_dir)).collect()
    assert rows and all(r.err is None for r in rows)
    by_url = {r.url: r for r in rows}
    docs = {r.doc_id: r.text
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
            .select("doc_id", "text").collect()}
    for did, text in list(docs.items())[:8]:
        r = by_url[f"https://example.org/pdf/{did}"]
        assert r.n_pages == did % 2 + 1
        assert r.text == expected_text(did, text)


def test_spark_malformed_pdf_row(spark):
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"url": ["u1", "u2"],
                      "pdf": [b"garbage", pdf_bytes(5, "ok")]}))
    from perl_html5_dom_spark.operators.pdfextract import extract_pdfs
    rows = {r.url: r for r in extract_pdfs(df).collect()}
    assert rows["u1"].err.startswith("PdfError: ")
    assert rows["u1"].n_pages == 0
    assert rows["u2"].err is None and rows["u2"].n_pages == 2


# ---------------------------------------------------------------------------
# object-lexer semantics locked after the round-6 regex-scanner rewrite
# (master-token regexes replaced the per-byte loops; these cases pin
# the corners where the fast paths must fall back or stay byte-equal)
# ---------------------------------------------------------------------------


def test_lexer_ws_separated_ref_and_boundary():
    from perl_html5_dom_spark.dom.pdf import Ref, _Lexer

    # plain ws-separated ref (the folded fast path)
    assert _Lexer(b"3 0 R ").read_object() == Ref(3, 0)
    # R directly followed by a delimiter is still a ref terminator
    lex = _Lexer(b"3 0 R/Next")
    assert lex.read_object() == Ref(3, 0)
    assert str(lex.read_object()) == "Next"
    # 'Rx' is NOT the R keyword: the int stands alone (rewind path)
    lex = _Lexer(b"1 2 Rx")
    assert lex.read_object() == 1
    assert lex.read_object() == 2
    with pytest.raises(PdfError):
        lex.read_object()  # bare 'Rx' keyword is not an object


def test_lexer_comment_separated_ref_falls_back():
    from perl_html5_dom_spark.dom.pdf import Ref, _Lexer

    # comments are whitespace between the three tokens (§7.2.4): the
    # master regex cannot fold this, the explicit lookahead must
    assert _Lexer(b"6 % c\n 0 % c\n R ").read_object() == Ref(6, 0)


def test_lexer_int_array_is_not_a_ref():
    from perl_html5_dom_spark.dom.pdf import _Lexer

    assert _Lexer(b"[0 0 612 792]").read_object() == [0, 0, 612, 792]
    # trailing int pair at end of data: ints, not a truncated ref
    lex = _Lexer(b"7 9")
    assert lex.read_object() == 7
    assert lex.read_object() == 9


def test_lexer_empty_name_and_empty_hex():
    from perl_html5_dom_spark.dom.pdf import Name, _Lexer

    assert _Lexer(b"/ ").read_object() == Name("")
    assert _Lexer(b"<>").read_object() == b""
    assert _Lexer(b"/A#42C").read_object() == Name("ABC")


def test_lexer_literal_string_fast_and_slow_paths():
    from perl_html5_dom_spark.dom.pdf import _Lexer

    assert _Lexer(b"(plain text)").read_object() == b"plain text"
    assert _Lexer(rb"(a\(b)").read_object() == b"a(b"
    assert _Lexer(b"(a(b)c)").read_object() == b"a(b)c"
    assert _Lexer(rb"(oct \101\12)").read_object() == b"oct A\n"


def test_content_stream_stray_delims_and_dict_operand():
    from perl_html5_dom_spark.dom.pdf import _spans_from_content

    # stray close-delimiters are skipped without clearing operands;
    # a BDC property dict is consumed as one operand
    spans = _spans_from_content(
        b"] } BT /F1 12 Tf 72 700 Td "
        b"/Tag << /K 1 >> BDC (x) Tj ET")
    assert spans == [(700.0, 72.0, "x")]


# ---------------------------------------------------------------------------
# termination: long whitespace/comment runs, and the shapes that restart
# the token scan, lex in linear time.  Each case runs in a child
# interpreter, so a regression to exponential backtracking fails on the
# timeout instead of hanging the suite.
# ---------------------------------------------------------------------------

_N = 100_000
#: the runs, as source text evaluated in the child
_RUNS = {
    "newlines": f"b'\\n' * {_N}",
    "mixed_ws": f"b' \\t\\r\\n\\x0c\\x00' * {_N // 6}",
    "comments": f"b'% note\\n' * {_N // 7}",
    "comment_tail": f"b'\\n' * {_N} + b'% unterminated'",
    # shapes that make the token scanner start a new window
    "inline_images": "b'BI /W 1 ID x EI ' * 50_000",
    "deep_strings": "b'(((x))) ' * 50_000",
    "endobj_in_string": "b'(' + b'endobj ' * 20_000 + b')'",
    "brackets": f"b'[' * {_N}",
    "dict_opens": f"b'<<' * {_N // 2}",
    "ints_no_r": "b'1 0 ' * 25_000",
    "digits": f"b'7' * {_N}",
    "open_paren": f"b'(' + b'x' * {_N}",
}
_TERMINATION_CASES = {
    # content streams: a text object followed by the run
    "content": (
        "from perl_html5_dom_spark.dom.pdf import _spans_from_content\n"
        "assert _spans_from_content(b'BT 10 700 Td (x) Tj ET' + RUN) "
        "== [(700.0, 10.0, 'x')]\n"),
    # a whole page whose content stream ends in the run
    "page": (
        "import sys; sys.path.insert(0, 'tests')\n"
        "from test_pdf import build_pdf, one_page\n"
        "from perl_html5_dom_spark.dom.pdf import extract_pdf_text\n"
        "assert extract_pdf_text(build_pdf(one_page("
        "b'BT 10 700 Td (x) Tj ET' + RUN))) == (1, 'x')\n"),
    # object syntax: nothing but the run is left to read
    "object": (
        "from perl_html5_dom_spark.dom.pdf import PdfError, _Lexer\n"
        "try:\n"
        "    _Lexer(b'[1 2] ' + RUN).read_object(); "
        "_Lexer(RUN).read_object()\n"
        "except PdfError as e:\n"
        "    assert 'end of data' in str(e), e\n"
        "else:\n"
        "    raise AssertionError('no error')\n"),
    # dict bodies: an entry, then the run instead of '>>'
    "dict": (
        "from perl_html5_dom_spark.dom.pdf import PdfError, _Lexer\n"
        "try:\n"
        "    _Lexer(b'<< /A 1 /B /C' + RUN).read_object()\n"
        "except PdfError as e:\n"
        "    assert 'end of data' in str(e), e\n"
        "else:\n"
        "    raise AssertionError('no error')\n"),
    # a page dictionary holding the run in an array
    "value": (
        "import sys; sys.path.insert(0, 'tests')\n"
        "from test_pdf import build_pdf, one_page\n"
        "from perl_html5_dom_spark.dom.pdf import extract_pdf_text\n"
        "objs = one_page(b'BT 10 700 Td (x) Tj ET')\n"
        "objs[3] = (b'<< /Type /Page /Parent 2 0 R /X [' + RUN"
        " + b'] /Contents 4 0 R >>')\n"
        "assert extract_pdf_text(build_pdf(objs)) == (1, 'x')\n"),
    # a token that is no number, or a string that never closes
    "bad_token": (
        "from perl_html5_dom_spark.dom.pdf import PdfError, _Lexer\n"
        "try:\n"
        "    _Lexer(RUN).read_object()\n"
        "except PdfError as e:\n"
        "    assert str(e).startswith(('bad token', 'unterminated')), e\n"
        "else:\n"
        "    raise AssertionError('no error')\n"),
}
_WS_RUNS = ("comment_tail", "comments", "mixed_ws", "newlines")
#: (where, run) pairs: every whitespace run everywhere, and each scanner
#: shape where its outcome is known
_TERMINATION_PAIRS = sorted(
    [(w, r) for w in ("content", "dict", "object", "page") for r in _WS_RUNS]
    + [(w, r) for r in ("inline_images", "deep_strings", "endobj_in_string",
                        "ints_no_r", "digits") for w in ("content", "page")]
    + [("value", r) for r in ("deep_strings", "endobj_in_string",
                              "ints_no_r")]
    + [(w, r) for r in ("brackets", "dict_opens") for w in ("object", "dict")]
    + [("bad_token", r) for r in ("digits", "open_paren")])


@pytest.mark.parametrize("where,run", _TERMINATION_PAIRS,
                         ids=[f"{w}-{r}" for w, r in _TERMINATION_PAIRS])
def test_lexer_terminates_on_long_runs(where, run):
    import os
    import subprocess
    import sys

    body = _TERMINATION_CASES[where].replace("\n", "\n    ")
    code = (
        "import time\n"
        f"RUN = {_RUNS[run]}\n"
        "t0 = time.perf_counter()\n"
        "if True:\n    " + body + "\n"
        "print(time.perf_counter() - t0)\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=60, check=True, cwd=root)
    # linear lexing takes milliseconds; the backtracking regexes took
    # 0.4 s at 20 trailing newlines, doubling per byte
    assert float(out.stdout) < 2.0


def test_trailing_comment_yields_no_token():
    from perl_html5_dom_spark.dom.pdf import _TOK, _spans_from_content

    for regex in (_TOK,):
        assert regex.match(b"  %abc") is None
        assert regex.match(b"%/K 1 R >> (x)") is None
    # a commented-out show operator after the last real token stays dead
    assert _spans_from_content(
        b"BT 10 700 Td (a) Tj ET %BT (b) Tj") == [(700.0, 10.0, "a")]


# ---------------------------------------------------------------------------
# termination: reference cycles raise PdfError instead of looping.  Each
# shape runs in a child interpreter under a wall-clock bound, so a
# regression fails on the timeout instead of hanging the suite.
# ---------------------------------------------------------------------------

#: source text building ``objs`` in the child (``one_page`` in scope)
_CYCLES = {
    # 1 0 obj 1 0 R endobj, used as /Root
    "self_ref_root": "objs = {1: b'1 0 R'}",
    # /Root -> 2 -> 3 -> 2
    "two_object_cycle": "objs = {1: b'2 0 R', 2: b'3 0 R', 3: b'2 0 R'}",
    # a /Pages node whose /Kids contains itself
    "self_containing_kids": (
        "objs = one_page(b'BT 10 700 Td (x) Tj ET')\n"
        "objs[2] = b'<< /Type /Pages /Kids [3 0 R 2 0 R] /Count 1 >>'"),
}


@pytest.mark.parametrize("shape", sorted(_CYCLES))
def test_reference_cycles_terminate(shape):
    import os
    import subprocess
    import sys

    code = (
        "import sys; sys.path.insert(0, 'tests')\n"
        "from test_pdf import build_pdf, one_page\n"
        "from perl_html5_dom_spark.dom.pdf import PdfError, extract_pdf_text\n"
        + _CYCLES[shape] + "\n"
        "try:\n"
        "    extract_pdf_text(build_pdf(objs))\n"
        "except PdfError as e:\n"
        "    print(e)\n"
        "else:\n"
        "    raise AssertionError('no error')\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], capture_output=True,
                         text=True, timeout=30, check=True, cwd=root)
    assert "cycle" in out.stdout


# ---------------------------------------------------------------------------
# recorded outcomes: every input of ``pdf_cases`` against what the
# per-token lexer that preceded the one-scan lexer did with it
# ---------------------------------------------------------------------------


def test_recorded_outcomes():
    from pdf_cases import (INLINE_IMAGE_CASES, RECURSION_CASES, _sha, cases,
                           goldens, outcome)

    want = goldens()
    inputs = cases()
    assert sorted(inputs) == sorted(want)
    assert sorted(k for k, v in want.items() if v[2] == "RecursionError") \
        == sorted(RECURSION_CASES)
    changed = [k for k, data in inputs.items() if _sha(data) != want[k][0]]
    assert not changed, f"inputs changed, re-record: {changed[:5]}"
    diff = {}
    for name, data in inputs.items():
        got = outcome(data)
        if name in RECURSION_CASES:
            # parsed on the explicit container stack now
            if got[0] != "ok":
                diff[name] = got
        elif name in INLINE_IMAGE_CASES:
            # the recorded error, and the outcome expected now
            assert want[name][1:3] == ["err", "PdfError"], name
            if got != INLINE_IMAGE_CASES[name]:
                diff[name] = (INLINE_IMAGE_CASES[name], got)
        elif got != want[name][1:]:
            diff[name] = (want[name][1:], got)
    assert not diff, f"{len(diff)} differ: {list(diff.items())[:5]}"


# ---------------------------------------------------------------------------
# linear-time recovery and bounded inflation, each in a child interpreter
# under a wall-clock bound
# ---------------------------------------------------------------------------


def _child(code: str, timeout: float = 120) -> str:
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return subprocess.run([sys.executable, "-c", code], capture_output=True,
                          text=True, timeout=timeout, check=True,
                          cwd=root).stdout


def test_stale_xref_offsets_resolve_in_linear_time():
    # every classic xref offset one byte off: each object falls back to
    # the "N G obj" index, which is built once per document
    out = _child(
        "import re, statistics, sys, time; sys.path.insert(0, 'tests')\n"
        "from test_pdf import build_pdf\n"
        "from perl_html5_dom_spark.dom.pdf import PdfParser\n"
        "def stale(n):\n"
        "    objs = {1: b'<< /Type /Catalog /Pages 2 0 R >>',\n"
        "            2: b'<< /Type /Pages /Kids [' + b' '.join(\n"
        "                b'%d 0 R' % k for k in range(3, n + 3)) + b'] >>'}\n"
        "    for k in range(3, n + 3):\n"
        "        objs[k] = b'<< /Type /Page /Parent 2 0 R >>'\n"
        "    return n, re.sub(rb'(\\d{10}) 00000 n', lambda m: b'%010d 00000 n'"
        " % (int(m.group(1)) + 1), build_pdf(objs))\n"
        "def cpu(n, data):\n"
        "    t0 = time.process_time()\n"
        "    assert len(PdfParser(data).pages()) == n\n"
        "    return time.process_time() - t0\n"
        "small, big = stale(500), stale(2000)\n"
        "print(statistics.median(cpu(*big) / cpu(*small) for _ in range(25)))\n")
    # linear: about 4, the median over 25 pairs of runs, each pair back
    # to back in CPU time, so both sides of a ratio see the same load on
    # a shared machine (tests/test_treebuilder.py ``_cpu_ratio``); the
    # per-object whole-file scan it replaces is quadratic (8.2 s at
    # 1,000 pages, 33.9 s at 2,000)
    assert float(out) <= 5.0, out


def test_inflate_budget_bounds_memory():
    # a deflate stream that inflates to four budgets' worth of zeros,
    # built chunk by chunk so neither side ever holds it inflated
    out = _child(
        "import sys, zlib; sys.path.insert(0, 'tests')\n"
        "from test_pdf import build_pdf, one_page\n"
        "from perl_html5_dom_spark.dom.pdf import (\n"
        "    _INFLATE_BUDGET, PdfError, extract_pdf_text)\n"
        "def hwm():\n"
        "    return [int(ln.split()[1]) >> 10 for ln in open("
        "'/proc/self/status')\n"
        "            if ln.startswith('VmHWM')][0]\n"
        "c = zlib.compressobj(1)\n"
        "chunk = bytes(1 << 20)\n"
        "bomb = b''.join([c.compress(chunk) for _ in range(\n"
        "    4 * _INFLATE_BUDGET >> 20)] + [c.flush()])\n"
        "before = hwm()\n"
        "objs = one_page(b'')\n"
        "objs[4] = (b'<< /Filter /FlateDecode /Length %d >>\\nstream\\n'\n"
        "           % len(bomb) + bomb + b'\\nendstream')\n"
        "try:\n"
        "    extract_pdf_text(build_pdf(objs))\n"
        "except PdfError as e:\n"
        "    assert 'budget' in str(e), e\n"
        "else:\n"
        "    raise AssertionError('no error')\n"
        "print(hwm() - before, _INFLATE_BUDGET >> 20)\n")
    grew_mb, budget_mb = map(int, out.split())
    # at most one budget of output, held twice while zlib joins its
    # output blocks; an unbounded inflate would hold four budgets
    assert grew_mb < 2 * budget_mb + 32, (grew_mb, budget_mb)


def test_inflate_budget_is_per_document():
    from perl_html5_dom_spark.dom import pdf

    # two streams that fit the budget apart but not together
    half = zlib.compress(bytes(pdf._INFLATE_BUDGET // 2 + 1))
    objs = one_page(b"", contents_ref=b"[4 0 R 5 0 R]")
    for num in (4, 5):
        objs[num] = (b"<< /Filter /FlateDecode /Length %d >>\nstream\n"
                     % len(half) + half + b"\nendstream")
    with pytest.raises(PdfError, match="budget"):
        extract_pdf_text(build_pdf(objs))
    # and a truncated stream still fails the way zlib.decompress does
    objs[5] = (b"<< /Filter /FlateDecode /Length 9 >>\nstream\n"
               + zlib.compress(b"BT (x) Tj ET")[:9] + b"\nendstream")
    objs[4] = objs[5]
    with pytest.raises(zlib.error, match="incomplete or truncated"):
        extract_pdf_text(build_pdf(objs))
