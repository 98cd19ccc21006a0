"""PDF extraction inputs and the outcomes recorded for them.

Every input is rebuilt from fixed seeds: the generated corpus
(``sources.pdfs.pdf_bytes``, all four file-structure variants), the
hand-built fixtures of ``test_pdf``, random compositions of the lexical
corners (escaped, nested and octal strings, hex strings, inline images,
BDC property dicts, int arrays, comment-separated references, ``endobj``
inside a string), deep nesting, tokens longer than a token window, and
seeded mutations (truncations, byte flips, whitespace and comments
injected between tokens, constructs spliced into the bytes, shifted xref
offsets).

``pdf_goldens.json`` keeps, per input name, a digest of the input bytes
and what ``extract_pdf_text`` did with it: ``["ok", n_pages, text
digest]`` or ``["err", exception type, message head, message digest]``.
The recording was made with the per-token lexer that preceded the
one-scan lexer; ``record`` rebuilds the file with the extractor on the
import path:

    PYTHONPATH=<checkout to record with> python3 tests/pdf_cases.py
"""

from __future__ import annotations

import functools
import hashlib
import json
import os
import random
import zlib

GOLDENS = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                       "pdf_goldens.json")

#: inputs on which the per-token lexer ran out of Python stack
#: (``RecursionError``); the one-scan lexer keeps its containers on an
#: explicit stack and parses them
RECURSION_CASES = ("deep/array-3000", "deep/content-array-3000",
                   "deep/dict-3000", "deep/mixed-3000")

#: inputs whose content stream holds the snippet ``BI … ID \x00\xffEI)( EI``:
#: the per-token lexer ended the image at the first ``EI`` bytes, so
#: ``)( EI`` left a literal string open (``PdfError``); an image now ends
#: at an ``EI`` between whitespace and whitespace, a delimiter or the end
#: (§8.9.7), and these parse.  Name → the outcome now expected.
INLINE_IMAGE_CASES = {
    name: ["ok", 1, digest] for digest, names in {
        "4dc7c9ec434ed065": ("content/10", "mutant/content/10/0-truncate",
                             "mutant/content/10/2-stale",
                             "mutant/content/10/5-flip"),
        "7a92f3d26362d655": ("content/118", "mutant/content/118/0-ws",
                             "mutant/content/118/1-ws",
                             "mutant/content/118/3-truncate",
                             "mutant/content/118/4-flip",
                             "mutant/content/118/5-ws"),
        "8d739e16c9d3384d": ("content/44", "mutant/content/44/0-flip",
                             "mutant/content/44/1-stale",
                             "mutant/content/44/5-truncate",
                             "mutant/content/69/2-construct"),
        "95c9204b3562bf8b": ("mutant/content/74/0-construct",),
    }.items() for name in names}

_TEXTS = [
    "body text with (parens) and back\\slash {i}",
    "plain words only {i}",
    "",
    "nested (a (b) c) {i} and a lone ( paren",
    "percent % sign {i} endobj stream",
    "tab\tand\\n{i}",
    "latin-1 \xe9\xe8 {i} \xff",
    "{i}",
]

#: content-stream constructs (PDF 32000-1 §7.3 strings inside §9.4 text)
CONTENT_SNIPPETS = [
    rb"(esc \(a\) \\ \n\t\b\f\r \q)", rb"(nest (one (two (three))) end)",
    rb"(deep (((((x)))))) z)", rb"(oct \101\1012\7\0\400)",
    b"(cont \\\r\nline \\\nnext \\\rlast)", rb"(two (levels) ok)",
    b"<68 65 6C6C6F>", b"<6>", b"<>", b"< 4 1\n 4 >", b"<zz 41>",
    b"BI /W 2 /H 1 /BPC 8 ID \x00\xffEI)( EI",
    b"BI /W 1 /H 1 ID <<[( EI", b"/Span << /MCID 3 /Alt (a) >> BDC",
    b"/P << /K [1 2] /S /x#41 >> BDC EMC", b"EMC", b"[1 2 3] TJ",
    b"[(a) -20 (b) 1 0 R (c)] TJ", b"[(k) 5 (l) [(m)]] TJ",
    b"1.2.3 4 Td", b"1e5 2 Td", b"+5 -.5 Td", b"] } ) >", b">> ]]",
    b"% comment (not a string\n", b"%no newline", b"/N#41me 9 Tf",
    b"12 TL T*", b"(q) '", b"1 2 (r) \"", b"1 0 0 1 50 500 Tm",
    b"0 -14 TD (td) Tj", b"true false null Tj", b"/ Tj", b"(p) Tj",
    b"<< /A [1 << /B 2 >>] >> stream\nxyz", b"{ } (brace) Tj",
    b"ET (out) Tj BT", b"\x00\x0c\t", b"(unbalanced \\) Tj",
]

#: page-dictionary entries (object syntax, §7.3)
OBJECT_SNIPPETS = [
    b"/MediaBox [0 0 612 792]", b"/Int [1 2 3 4 5]",
    b"/Ref 4 % c\n 0 % c\n R", b"/Title (endobj)",
    b"/T2 (endobj\nendstream 9 0 obj)", b"/Hex <414243>",
    b"/N /A#42#43", b"/B true /F false /Z null",
    b"/R 1.5 /M -3 /P +4 /Q .5 /E 1e3", b"/D << /X [<< /Y 1 >>] >>",
    b"/E [] /F <<>>", rb"/Esc (a\)b\(c\\)", b"/Nest (a(b(c)))",
    rb"/Oct (\101\102\12)", b"/Empty /", b"/RR [1 0 R 2 0 R]",
    b"/Pair [7 9]", b"/Rx [1 2 Rx]", b"/Cm [1 % x\n2]",
    b"/Str (a\\\r\nb)", b"/Bad 1.2.3", b"/Neg -1 0 R",
]

_WS_PIECES = [b" ", b"\n", b"\r\n", b"\x00", b"\t\x0c", b"% c\n",
              b"%%EOF\r", b" % x\r\n ", b"\r"]
_BOUNDARY = frozenset(b"\x00\t\n\x0c\r ()<>[]{}/%")


def _sha(b: bytes) -> str:
    return hashlib.sha1(b).hexdigest()[:16]


def outcome(data: bytes, extract=None) -> list:
    """What ``extract`` (default ``extract_pdf_text``) does with ``data``."""
    if extract is None:
        from perl_html5_dom_spark.dom.pdf import extract_pdf_text as extract

    try:
        n, text = extract(data)
    except Exception as e:  # noqa: BLE001 - the type is the outcome
        msg = str(e)
        return ["err", type(e).__name__, msg[:160], _sha(msg.encode())]
    return ["ok", n, _sha(text.encode("utf-8"))]


# ---------------------------------------------------------------------------
# mutations
# ---------------------------------------------------------------------------


def _boundaries(data: bytes) -> list[int]:
    return [i for i in range(1, len(data))
            if data[i - 1] in _BOUNDARY or data[i] in _BOUNDARY]


def _truncate(rng, data):
    return data[:rng.randrange(len(data))]


def _flip(rng, data):
    out = bytearray(data)
    for _ in range(rng.randint(1, 3)):
        out[rng.randrange(len(out))] ^= rng.randint(1, 255)
    return bytes(out)


def _inject(rng, data, pieces):
    spots = _boundaries(data)
    out = bytearray(data)
    for i in sorted(rng.sample(spots, min(len(spots), rng.randint(1, 6))),
                    reverse=True):
        out[i:i] = rng.choice(pieces)
    return bytes(out)


def _inject_ws(rng, data):
    return _inject(rng, data, _WS_PIECES)


def _inject_construct(rng, data):
    return _inject(rng, data, [b" " + s + b" " for s in
                               CONTENT_SNIPPETS + OBJECT_SNIPPETS])


def _stale_offsets(rng, data):
    """Shift every classic xref offset by a small amount."""
    d = rng.choice((-1, 1, 2))
    head, sep, tail = data.partition(b"\nxref\n")
    if not sep:
        return _flip(rng, data)
    lines = tail.split(b"\n")
    for k, line in enumerate(lines):
        if len(line) >= 18 and line[:10].isdigit() and line[17:18] == b"n":
            lines[k] = b"%010d" % max(0, int(line[:10]) + d) + line[10:]
    return head + sep + b"\n".join(lines)


MUTATIONS = {"truncate": _truncate, "flip": _flip, "ws": _inject_ws,
             "construct": _inject_construct, "stale": _stale_offsets}


def mutate(rng: random.Random, data: bytes) -> tuple[str, bytes]:
    """One seeded mutation of ``data``: (mutation name, mutated bytes)."""
    name = rng.choice(sorted(MUTATIONS))
    return name, (MUTATIONS[name](rng, data) if data else data)


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


def corpus_text(doc_id: int) -> str:
    return _TEXTS[doc_id % len(_TEXTS)].format(i=doc_id)


def random_content(rng: random.Random) -> bytes:
    parts = [b"BT /F1 12 Tf 72 700 Td"]
    for _ in range(rng.randint(1, 8)):
        parts.append(rng.choice(CONTENT_SNIPPETS))
        parts.append(rng.choice((b"(s) Tj", b"0 -14 Td", b"T*", b"")))
    parts.append(b"(end) Tj ET")
    return b"".join(p + rng.choice(_WS_PIECES) for p in parts)


def random_page_dict(rng: random.Random) -> bytes:
    extra = b" ".join(rng.choice(OBJECT_SNIPPETS)
                      for _ in range(rng.randint(1, 5)))
    return (b"<< /Type /Page /Parent 2 0 R " + extra
            + b" /Contents 4 0 R >>")


def _deep(n: int) -> dict[str, bytes]:
    from test_pdf import build_pdf, one_page

    page = one_page(b"BT 10 700 Td (deep) Tj ET")
    arr = b"[" * n + b"1" + b"]" * n
    dct = b"<< /A " * n + b"1" + b" >>" * n
    mixed = b"[<< /A " * (n // 2) + b"1" + b">>]" * (n // 2)

    def with_key(value):
        objs = dict(page)
        objs[3] = (b"<< /Type /Page /Parent 2 0 R /X " + value
                   + b" /Contents 4 0 R >>")
        return build_pdf(objs)

    return {
        f"deep/array-{n}": with_key(arr),
        f"deep/dict-{n}": with_key(dct),
        f"deep/mixed-{n}": with_key(mixed),
        f"deep/content-array-{n}": build_pdf(one_page(
            b"BT 10 700 Td " + arr + b" TJ (after) Tj ET")),
        f"deep/string-{n}": build_pdf(one_page(
            b"BT 10 700 Td " + b"(" * n + b"s" + b")" * n + b" Tj ET")),
    }


def _windows() -> dict[str, bytes]:
    """Tokens and strings longer than a token window, and content
    streams whose tokens straddle the window edges."""
    from test_pdf import build_pdf, one_page

    def with_key(value):
        objs = one_page(b"BT 10 700 Td (w) Tj ET")
        objs[3] = (b"<< /Type /Page /Parent 2 0 R /Long " + value
                   + b" /Contents 4 0 R >>")
        return build_pdf(objs)

    rng = random.Random(64)
    lines = [b"BT %d %d Td (%s) Tj ET" % (rng.randrange(600), y,
                                          b"x" * rng.randrange(1, 90))
             for y in range(3000)]
    return {
        "window/long-string": with_key(b"(" + b"word " * 3000 + b")"),
        "window/long-deep-string": with_key(
            b"(" + b"a (b (c (d) c) b) a " * 400 + b")"),
        "window/long-escaped-string": with_key(
            b"(" + rb"\(\)\101 " * 2000 + b")"),
        "window/long-hex": with_key(b"<" + b"41" * 5000 + b">"),
        "window/long-name": with_key(b"/" + b"n" * 9000),
        "window/long-number": with_key(b"1" * 9000),
        "window/long-array": with_key(b"[" + b"1 0 R " * 3000 + b"]"),
        "window/content-straddle": build_pdf(one_page(b"\n".join(lines))),
        "window/content-long-string": build_pdf(one_page(
            b"BT 10 700 Td (" + b"long " * 30000 + b") Tj ET")),
        "window/content-deep-strings": build_pdf(one_page(
            b"BT 10 700 Td " + b"(((x))) " * 12000 + b"(y) Tj ET")),
        "window/content-inline-images": build_pdf(one_page(
            b"BT 10 700 Td (z) Tj ET " + b"BI /W 1 ID (x) EI " * 6000)),
    }


def builder_cases() -> dict[str, bytes]:
    """The hand-built fixtures of ``test_pdf`` (and close relatives)."""
    from test_pdf import build_pdf, one_page

    def page(content, **kw):
        return build_pdf(one_page(content, **kw))

    def stream(body: bytes, extra: bytes = b"") -> bytes:
        return (b"<< " + extra + b"/Length " + str(len(body)).encode()
                + b" >>\nstream\n" + body + b"\nendstream")

    out = {}
    c = b"BT /F1 12 Tf 10 700 Td (len) Tj ET"
    objs = one_page(c)
    objs[4] = b"<< /Length 5 0 R >>\nstream\n" + c + b"\nendstream"
    objs[5] = str(len(c)).encode()
    out["indirect_length"] = build_pdf(objs)
    objs = one_page(b"BT 10 700 Td (first) Tj ET",
                    contents_ref=b"[4 0 R 5 0 R]")
    objs[5] = stream(b"BT 10 680 Td (second) Tj ET")
    out["contents_array"] = build_pdf(objs)
    objs = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [5 0 R 4 0 R] /Count 3 >>",
        4: b"<< /Type /Page /Parent 2 0 R /Contents 8 0 R >>",
        5: b"<< /Type /Pages /Parent 2 0 R /Kids [6 0 R 7 0 R] /Count 2 >>",
        6: b"<< /Type /Page /Parent 5 0 R /Contents 9 0 R >>",
        7: b"<< /Type /Page /Parent 5 0 R /Contents 10 0 R >>",
    }
    for num, label in ((8, b"pC"), (9, b"pA"), (10, b"pB")):
        objs[num] = stream(b"BT 10 700 Td (" + label + b") Tj ET")
    out["nested_page_tree"] = build_pdf(objs)
    base = page(b"BT 10 700 Td (old) Tj ET")
    old_xref = int(base.rsplit(b"startxref\n", 1)[1].split(b"\n", 1)[0])
    upd = bytearray(base)
    off4 = len(upd)
    upd += b"4 0 obj\n" + stream(b"BT 10 700 Td (new) Tj ET") + b"\nendobj\n"
    xref_pos = len(upd)
    upd += b"xref\n4 1\n%010d 00000 n \n" % off4
    upd += (b"trailer\n<< /Size 5 /Root 1 0 R /Prev "
            + str(old_xref).encode()
            + b" >>\nstartxref\n%d\n%%%%EOF\n" % xref_pos)
    out["incremental_update"] = bytes(upd)
    pdf = page(b"BT 10 700 Td (fixme) Tj ET")
    out["broken_startxref"] = pdf.replace(
        b"startxref\n", b"startxref\n9999999\n%", 1)
    out["no_xref_no_trailer"] = pdf[:pdf.rindex(b"xref\n")]
    out["missing_header"] = b"not a pdf at all"
    for name, content in {
        "string_escapes": rb"BT 10 700 Td (tab\there\(x\)\\end\101) Tj ET",
        "nested_parens": b"BT 10 700 Td (outer (inner) back\\\n-joined) Tj ET",
        "hex_odd": b"BT 10 700 Td <68 69\n2 1> Tj ET",
        "hex_odd2": b"BT 10 700 Td <686 93> Tj ET",
        "comments": b"% leading comment\nBT 10 700 Td (c) Tj ET % trailing",
        "quotes": b"BT 14 TL 10 714 Td (l1) Tj (l2) ' 0 0 (l3) \" ET",
        "td_TD": b"BT 10 700 Td (a) Tj 0 -20 TD (b) Tj T* (c) Tj ET",
        "tm": b"BT 1 0 0 1 10 650 Tm (low) Tj 1 0 0 1 10 750 Tm (high) Tj ET",
        "outside_bt": b"(stray) Tj BT 10 700 Td (kept) Tj ET",
        "inline_image": (b"BT 10 700 Td (before) Tj ET\n"
                         b"BI /W 1 /H 1 ID \x00\xff\x00(\x29 EI\n"
                         b"BT 10 680 Td (after) Tj ET"),
        "line_tolerance": (b"BT 200 700.5 Td (right) Tj ET "
                           b"BT 10 699 Td (left) Tj ET"),
        "stray_delims_bdc": (b"] } BT /F1 12 Tf 72 700 Td "
                             b"/Tag << /K 1 >> BDC (x) Tj ET"),
        "trailing_comment_op": b"BT 10 700 Td (a) Tj ET %BT (b) Tj",
    }.items():
        out[name] = page(content)
    objs = one_page(b"BT 10 700 Td (nm) Tj ET")
    objs[3] = (b"<< /Type /Page /Parent 2 0 R /Pie#63e (v) "
               b"/Contents 4 0 R >>")
    out["name_hash"] = build_pdf(objs)
    body = b"BT 10 700 Td (ahx) Tj ET".hex().encode() + b">"
    objs = one_page(b"")
    objs[4] = stream(body, b"/Filter /ASCIIHexDecode ")
    out["asciihex"] = build_pdf(objs)
    body = zlib.compress(b"BT 10 700 Td (chain) Tj ET").hex().encode() + b">"
    objs[4] = stream(body, b"/Filter [/ASCIIHexDecode /FlateDecode] ")
    out["filter_chain"] = build_pdf(objs)
    objs[4] = b"<< /Filter /DCTDecode /Length 3 >>\nstream\nxyz\nendstream"
    out["unsupported_filter"] = build_pdf(objs)
    out["empty_page"] = build_pdf({
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        3: b"<< /Type /Page /Parent 2 0 R >>",
    })
    out["self_ref_root"] = build_pdf({1: b"1 0 R"})
    out["two_object_cycle"] = build_pdf(
        {1: b"2 0 R", 2: b"3 0 R", 3: b"2 0 R"})
    objs = one_page(b"BT 10 700 Td (x) Tj ET")
    objs[2] = b"<< /Type /Pages /Kids [3 0 R 2 0 R] /Count 1 >>"
    out["self_containing_kids"] = build_pdf(objs)
    return {f"builder/{k}": v for k, v in out.items()}


def cases() -> dict[str, bytes]:
    """Every recorded input, by name, rebuilt from fixed seeds."""
    from test_pdf import build_pdf, one_page

    from perl_html5_dom_spark.sources.pdfs import pdf_bytes

    out = {f"corpus/{d}": pdf_bytes(d, corpus_text(d)) for d in range(240)}
    out.update(builder_cases())
    rng = random.Random(9)
    for k in range(120):
        out[f"content/{k}"] = build_pdf(one_page(random_content(rng)))
    for k in range(120):
        objs = one_page(b"BT 10 700 Td (obj) Tj ET")
        objs[3] = random_page_dict(rng)
        if k % 3 == 0:
            objs[1] = (b"<< /Type /Catalog /Pages 2 0 R "
                       + rng.choice(OBJECT_SNIPPETS) + b" >>")
        out[f"object/{k}"] = build_pdf(objs)
    for n in (100, 3000):
        out.update(_deep(n))
    out.update(_windows())
    bases = sorted(k for k in out if not k.startswith(("deep/", "window/")))
    for k, name in enumerate(bases):
        data = out[name]
        for j in range(4 if name.startswith("corpus/") else 6):
            mrng = random.Random(f"{name}/{j}")
            label, mutated = mutate(mrng, data)
            out[f"mutant/{name}/{j}-{label}"] = mutated
    return out


@functools.lru_cache(maxsize=None)
def goldens() -> dict:
    with open(GOLDENS, encoding="utf-8") as f:
        return json.load(f)


def record() -> dict:
    """The golden file's content, from the extractor on the import path."""
    return {name: [_sha(data)] + outcome(data)
            for name, data in sorted(cases().items())}


if __name__ == "__main__":
    import sys

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    data = record()
    with open(GOLDENS, "w", encoding="utf-8") as f:  # one input a line
        f.write("{\n" + ",\n".join(
            f"{json.dumps(k)}: {json.dumps(v, ensure_ascii=False)}"
            for k, v in sorted(data.items())) + "\n}\n")
    kinds: dict = {}
    for v in data.values():
        key = v[1] if v[1] == "ok" else v[2]
        kinds[key] = kinds.get(key, 0) + 1
    print(len(data), kinds)
