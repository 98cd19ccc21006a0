"""From-scratch PDF text + layout extraction (no external PDF libs).

The north rule's extraction pipeline covers "HTML boilerplate strip,
PDF/layout parse, DOM heuristics"; the HTML side re-expresses the
reference engine (/root/reference), which has no PDF support, so this
module is built directly from the public PDF 32000-1:2008 spec:

* §7.5     file structure — header, body, classic xref tables with
           ``/Prev`` chains (incremental updates), trailer, startxref;
* §7.5.8   cross-reference *streams* (PDF 1.5+): ``/Type /XRef``,
           ``/W`` field widths, ``/Index`` subsections, type-2 entries;
* §7.5.7   object streams (``/Type /ObjStm``) holding compressed
           non-stream objects;
* §7.3     object syntax — literal strings (nested parens, ``\\``
           escapes, octal, line continuations), hex strings, names with
           ``#xx`` escapes, arrays, dicts, indirect references;
* §7.4.4   FlateDecode plus PNG predictors 10-15 (None/Sub/Up/Average/
           Paeth rows) for stream data;
* §9.4     text operators — BT/ET, Tf, Td, TD, TL, Tm, T*, Tj, TJ,
           ``'`` and ``"``.

Layout assembly (the "layout parse" half): every show operator emits a
span at the current text-matrix origin; spans are grouped into lines by
y (tolerance 2 units, PDF user space), lines ordered top-to-bottom,
spans within a line left-to-right joined with single spaces, pages
joined with form-feed.  This is the classic pdftotext-style reading
order and is independent of the order operators appear in the content
stream.

Deliberate scope notes (documented, not silent): the CTM (``cm``) and
text rotation are ignored — spans use the text-matrix translation only;
CID/Type0 fonts would need CMap tables, so strings decode as
PDFDocEncoding≈Latin-1 (exact for the ASCII corpus); unsupported
filters raise ``PdfError``.  A damaged or missing xref falls back to a
whole-file ``N G obj`` repair scan (what real crawl extractors do); the
same one-pass index serves offsets that an incremental update left
stale.  Inflation stops at ``_INFLATE_BUDGET`` bytes per document, with
a ``PdfError``.

Lexer.  Object syntax and content streams share the lexical rules of
§7.2 and one token regex, ``_TOK``.  ``findall`` over a window of the
data gives one tuple per token — (name, number, keyword, string,
delimiter, whitespace after), one of the first five set — and two
loops dispatch on the tuples: ``_object`` (open containers on an
explicit stack, ``INT INT R`` by looking two tuples ahead) and
``_spans_from_content``.  No position is kept per token: the tuples
tile the window, so an offset is the window start plus the lengths
before it.  The few readers that need one (``stream`` after a dict,
``BI`` … ``EI``, a string nested deeper than the regex's two levels or
cut by the window edge) reposition there, and the scan restarts with a
``_SCAN_MIN``-byte window that doubles, up to ``_SCAN_MAX``, while it
is consumed: a restart rescans at most about twice what it consumes
next, so lexing stays linear in the data.
"""

from __future__ import annotations

import re
import zlib
from operator import add

__all__ = ["PdfError", "PdfParser", "extract_pdf_text", "pdf_page_count"]

_WS = b"\x00\t\n\x0c\r "
# single bytes are tested as ints below: ``0x2E in tok`` is a memchr,
# ``b"." in tok`` costs ten times as much

_NAME_HASH = re.compile(rb"#([0-9A-Fa-f]{2})")
_NOT_HEX = re.compile(rb"[^0-9A-Fa-f]")
# a whitespace/comment run (§7.2.3; an unterminated trailing comment
# runs to the end of the data), possessive so it never backtracks
_WSC = rb"[\x00\t\n\x0c\r ]*+(?:%[^\n]*+\n?[\x00\t\n\x0c\r ]*+)*+"
_WS_RE = re.compile(_WSC)
# the end of an inline image's data (§8.9.7): the first ``EI`` after a
# whitespace byte and before whitespace, a delimiter or the end, so
# image bytes that spell ``EI`` do not end it
_EI_RE = re.compile(
    rb"[\x00\t\n\x0c\r ]EI(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|\Z)")
# the token scan (see "Lexer" above): every byte outside a
# whitespace/comment run starts exactly one alternative, and each token
# takes the run after it, so findall yields the tokens back to back
_REG = rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]"
# a literal string nested at most two levels deep
_STR = rb"\((?:[^\\()]++|\\.|\((?:[^\\()]++|\\.)*+\))*+\)"
_TOK = re.compile(
    rb"(?:(/" + _REG + rb"*+)"                  # 1 name, with its '/'
    rb"|([+\-.0-9]" + _REG + rb"*+)"            # 2 number
    rb"|(" + _REG + rb"++)"                     # 3 keyword / operator
    rb"|(" + _STR + rb"|<[^<>]*+>)"             # 4 string
    rb"|(<<|>>|[()<>\[\]{}]))"                  # 5 delimiter
    rb"(" + _WSC + rb")", re.S)                 # 6 whitespace after
_END = (b"",) * 6       # past the last token: every group empty
_ESC = re.compile(rb"\\([0-7]{1,3}|\r\n?|.)", re.S)
_ESC_BYTE = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b",
             b"f": b"\f", b"\r": b"", b"\n": b"", b"\r\n": b""}
# inside a deeper literal string: text, escapes and whole shallow
# strings, up to the next parenthesis
_LIT_STEP = re.compile(rb"(?:[^\\()]++|\\.|" + _STR + rb")*+([()]?)", re.S)
# window sizes: the first after a reposition, and the cap once tokens
# are flowing (a token longer than the window doubles it past the cap)
_SCAN_MIN, _SCAN_MAX = 32, 1 << 16
# decompressed bytes one document may inflate, over all its streams: a
# deflate stream expands up to ~1000x, so without a bound a few hundred
# KB of input could exhaust a worker's memory
_INFLATE_BUDGET = 64 << 20


class PdfError(ValueError):
    """Malformed or unsupported PDF construct."""


class Name(str):
    """A PDF name object (distinct from strings for dict keys)."""
    __slots__ = ()


class Ref:
    """Indirect reference ``num gen R``."""
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int):
        self.num = num
        self.gen = gen

    def __repr__(self):  # pragma: no cover - debug aid
        return f"{self.num} {self.gen} R"

    def __eq__(self, other):
        return (isinstance(other, Ref)
                and (self.num, self.gen) == (other.num, other.gen))

    def __hash__(self):
        return hash((self.num, self.gen))


class Stream:
    """A stream object: its dict plus raw (still-encoded) bytes."""
    __slots__ = ("dict", "raw")

    def __init__(self, d: dict, raw: bytes):
        self.dict = d
        self.raw = raw


# ---------------------------------------------------------------------------
# object lexer / parser (PDF 32000-1 §7.3)
# ---------------------------------------------------------------------------


_LIST = object()    # the pending "key" of an open array
_BAD = object()     # a dict key that is not a name: raised once read


def _scan(data: bytes, pos: int, size: int):
    """One token window ``(toks, lim, base, end)``: the tokens of
    ``data[base:end]``, ``base`` being ``pos`` past whitespace.  Tokens
    before ``lim`` are whole; the last window ends in two ``_END``s,
    any other in a token that the window may have cut short."""
    base = _WS_RE.match(data, pos).end()
    end = base + size
    if end >= len(data):
        end = len(data)
        toks = _TOK.findall(data, base, end)
        toks += (_END, _END)
        return toks, len(toks), base, end
    toks = _TOK.findall(data, base, end)
    return toks, len(toks) - 1, base, end


def _at(toks: list, i: int, base: int, end: int) -> int:
    """Byte offset of token ``i``: the tokens (with their trailing
    whitespace) tile ``data[base:end]``, so sum the lengths on the
    shorter side of ``i``."""
    if not i:
        return base
    if 2 * i <= len(toks):
        return base + len(b"".join(map(b"".join, toks[:i])))
    return end - len(b"".join(map(b"".join, toks[i:])))


def _rescan(data: bytes, toks: list, i: int, base: int, end: int):
    """The cursor ``(toks, 0, lim, base, end)`` of a new window from token
    ``i`` on: twice the old window while it held nothing whole before
    ``i`` (so any token fits eventually), else at most ``_SCAN_MAX``."""
    size = end - base
    size = max(_SCAN_MIN, 2 * size if i == 0 else min(2 * size, _SCAN_MAX))
    toks, lim, base, end = _scan(data, _at(toks, i, base, end), size)
    return toks, 0, lim, base, end


def _name(tok: bytes) -> str:
    nm = tok[1:]
    if 0x23 in nm:  # "#xx"
        nm = _NAME_HASH.sub(lambda h: bytes([int(h.group(1), 16)]), nm)
    return nm.decode("latin-1")


def _esc_byte(m) -> bytes:
    e = m.group(1)
    if 0x30 <= e[0] <= 0x37:  # octal, up to 3 digits
        return bytes([int(e, 8) & 0xFF])
    return _ESC_BYTE.get(e, e)  # \n \r \t \b \f, line continuations


def _unescape(body: bytes) -> bytes:
    return _ESC.sub(_esc_byte, body) if 0x5C in body else body


def _unhex(body: bytes) -> bytes:
    digits = _NOT_HEX.sub(b"", body)
    if len(digits) % 2:
        digits += b"0"
    return bytes.fromhex(digits.decode("ascii"))


def _string(tok: bytes) -> bytes:
    """The value of a string token, ``(literal)`` or ``<hex>``."""
    if tok[0] == 0x28:
        return _unescape(tok[1:-1])
    return _unhex(tok[1:-1])


def _literal(data: bytes, p: int):
    """``(value, end)`` of the literal string at ``data[p] == '('`` that
    the token scan could not take whole (deeper nesting, or cut by the
    window)."""
    depth, q = 1, p + 1
    while True:
        m = _LIT_STEP.match(data, q)
        c = m.group(1)
        if not c:
            raise PdfError("unterminated literal string")
        q = m.end()
        depth += 1 if c == b"(" else -1
        if not depth:
            return _unescape(data[p + 1:q - 1]), q


def _hex(data: bytes, p: int):
    """``(value, end)`` of the hex string at ``data[p] == '<'``."""
    j = data.find(b">", p)
    if j < 0:
        raise PdfError("unterminated hex string")
    return _unhex(data[p + 1:j]), j + 1


def _real(tok: bytes):
    return (float(tok) if 0x2E in tok or 0x65 in tok or 0x45 in tok
            else int(tok))


def _bad(tok: bytes, toks: list, i: int, base: int, end: int) -> PdfError:
    """The error for the token ``toks[i - 1]`` that is not a number."""
    at = _at(toks, i - 1, base, end) + len(tok)
    return PdfError(f"bad token {tok!r} at {at}")


def _object(data: bytes, toks: list, i: int, lim: int, base: int, end: int):
    """Read the object starting at token ``i``: ``(obj, toks, i, lim,
    base, end)`` with the cursor past it.  Open containers live on an
    explicit stack, so nesting depth costs no Python stack."""
    stack = []                  # enclosing (container, key) pairs
    top, key = None, _LIST      # innermost open container, its pending key
    while True:
        while i >= lim:
            toks, i, lim, base, end = _rescan(data, toks, i, base, end)
        name, num, kw, s, d, _ = toks[i]
        i += 1
        if key is None:         # a dict key, or the '>>' closing it
            if name:
                key = (name[1:].decode("latin-1") if 0x23 not in name
                       else _name(name))
                continue
            if d != b">>":      # read the object as a value, then refuse it
                key = _BAD
                i -= 1
                continue
            if i >= lim:        # the stream check needs the next token
                toks, i, lim, base, end = _rescan(data, toks, i - 1, base,
                                                  end)
                continue
            v = top
            top, key = stack.pop()
            if toks[i][2][:6] == b"stream":
                p = _at(toks, i, base, end) + 6
                if data[p:p + 2] == b"\r\n":
                    p += 2
                elif data[p:p + 1] in (b"\n", b"\r"):
                    p += 1
                v = Stream(v, b"")  # raw filled in by caller (needs /Length)
                toks, i, lim, base, end = [], 0, 0, p, p
        elif num:
            try:
                v = int(num) if num.isdigit() else _real(num)
            except ValueError as exc:
                raise _bad(num, toks, i, base, end) from exc
            if type(v) is int:  # INT INT R is an indirect reference
                if i + 1 >= lim:
                    toks, i, lim, base, end = _rescan(data, toks, i - 1,
                                                      base, end)
                    continue
                n1 = toks[i][1]
                if n1 and 0x2F < n1[0] < 0x3A and toks[i + 1][2] == b"R":
                    v = Ref(v, int(n1))
                    i += 2
        elif name:
            v = Name(name[1:].decode("latin-1") if 0x23 not in name
                     else _name(name))
        elif d:
            if d == b"<<" or d == b"[":
                stack.append((top, key))
                top, key = ({}, None) if d == b"<<" else ([], _LIST)
                continue
            if d == b"]" and key is _LIST and top is not None:
                v = top
                top, key = stack.pop()
            elif d == b"(" or d == b"<":
                v, p = (_literal if d == b"(" else _hex)(
                    data, _at(toks, i - 1, base, end))
                toks, i, lim, base, end = [], 0, 0, p, p
            else:
                at = _at(toks, i - 1, base, end)
                raise PdfError(f"lex error at byte {at}")
        elif s:
            v = _string(s)
        elif kw == b"true":
            v = True
        elif kw == b"false":
            v = False
        elif kw == b"null":
            v = None
        elif kw:
            try:
                v = _real(kw)
            except ValueError as exc:
                raise _bad(kw, toks, i, base, end) from exc
        else:
            raise PdfError("unexpected end of data")
        if top is None:
            return v, toks, i, lim, base, end
        if key is _LIST:
            top.append(v)
        elif key is not _BAD:
            top[key] = v
            key = None
        else:
            raise PdfError("dict key is not a name")


class _Lexer:
    """Reads objects from ``data`` at ``pos``, which then sits past the
    object and the whitespace after it."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def read_object(self):
        toks, lim, base, end = _scan(self.data, self.pos, _SCAN_MIN)
        obj, toks, i, _lim, base, _end = _object(self.data, toks, 0, lim,
                                                 base, end)
        self.pos = _at(toks, i, base, end)
        return obj


def _body(data: bytes, pos: int):
    """``(obj, start)`` for the object after an ``N G obj`` header at
    ``pos``, ``start`` being where a stream's data begins.  The first
    window ends just past the object's ``stream`` or ``endobj``."""
    j = data.find(b"endobj", pos, pos + 4096)
    k = data.find(b"stream", pos, j if j >= 0 else pos + 4096)
    stop = k if k >= 0 else j
    toks, lim, base, end = _scan(
        data, pos, stop + 14 - pos if stop >= 0 else _SCAN_MIN)
    obj, toks, i, _lim, base, _end = _object(data, toks, 0, lim, base, end)
    return obj, _at(toks, i, base, end) if isinstance(obj, Stream) else None


# ---------------------------------------------------------------------------
# filters
# ---------------------------------------------------------------------------


_BYTE_SUM = bytes(range(256)) * 2  # _BYTE_SUM[a + b] == (a + b) & 0xFF


def _png_unpredict(data: bytes, columns: int, colors: int = 1,
                   bpc: int = 8) -> bytes:
    """Reverse PNG row filters (predictors 10-15; PDF §7.4.4.4)."""
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    out = bytearray()
    prev = bytearray(rowlen)
    pos = 0
    while pos < len(data):
        ftype = data[pos]
        row = bytearray(data[pos + 1:pos + 1 + rowlen])
        pos += 1 + rowlen
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub
            for i in range(bpp, len(row)):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            row = bytearray(map(_BYTE_SUM.__getitem__, map(add, row, prev)))
        elif ftype == 3:  # Average
            for i in range(len(row)):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + (left + prev[i]) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        else:
            raise PdfError(f"unknown PNG filter type {ftype}")
        out += row
        prev = row
    return bytes(out)


# ---------------------------------------------------------------------------
# document parser
# ---------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
_OBJ_AT = re.compile(_WSC + rb"(\d+)\s+(\d+)\s+obj\b")  # at an xref offset
_STARTXREF = re.compile(rb"startxref\s+(\d+)")
_XREF_ENTRY = re.compile(rb"(\d{10})\s+(\d{5})\s+([nf])")


class PdfParser:
    """Parses the xref machinery and exposes resolved objects + pages."""

    def __init__(self, data: bytes):
        if not data.startswith(b"%PDF-"):
            raise PdfError("missing %PDF header")
        self.data = data
        #: objnum -> byte offset (int) or (objstm_num, idx) tuple
        self.xref: dict[int, object] = {}
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, dict[int, object]] = {}
        self._objects: dict[int, int] | None = None  # see _object_offsets
        self._inflated = 0  # bytes inflated so far (_INFLATE_BUDGET)
        try:
            self._load_xref()
            if "Root" not in self.trailer:
                raise PdfError("trailer has no /Root")
        except PdfError:
            self._repair_scan()

    # -- xref loading ------------------------------------------------------

    def _load_xref(self) -> None:
        tail = self.data[-2048:]
        m = None
        for m in _STARTXREF.finditer(tail):
            pass
        if m is None:
            raise PdfError("startxref not found")
        offset = int(m.group(1))
        seen: set[int] = set()
        while offset and offset not in seen:
            seen.add(offset)
            if offset >= len(self.data):
                raise PdfError("startxref beyond EOF")
            pos = _WS_RE.match(self.data, offset).end()
            if self.data[pos:pos + 4] == b"xref":
                trailer = self._load_xref_table(pos + 4)
            else:
                trailer = self._load_xref_stream(pos)
            for k, v in trailer.items():
                self.trailer.setdefault(k, v)
            nxt = trailer.get("Prev")
            offset = int(nxt) if nxt is not None else 0

    def _load_xref_table(self, pos: int) -> dict:
        data = self.data
        lex = _Lexer(data, pos)
        while True:
            pos = _WS_RE.match(data, lex.pos).end()
            lex.pos = pos
            if data[pos:pos + 7] == b"trailer":
                lex.pos += 7
                t = lex.read_object()
                if not isinstance(t, dict):
                    raise PdfError("bad trailer")
                # hybrid-reference files: /XRefStm points at an xref
                # stream carrying the compressed-object entries
                if "XRefStm" in t:
                    self._load_xref_stream(int(t["XRefStm"]))
                return t
            first = lex.read_object()
            count = lex.read_object()
            if not isinstance(first, int) or not isinstance(count, int):
                raise PdfError("bad xref subsection header")
            pos = _WS_RE.match(data, lex.pos).end()
            for i in range(count):
                entry = data[pos:pos + 20]
                em = _XREF_ENTRY.match(entry)
                if not em:
                    raise PdfError("bad xref entry")
                if em.group(3) == b"n":
                    self.xref.setdefault(first + i, int(em.group(1)))
                # step over the entry as matched, then its EOL: 20-byte
                # entries end in two bytes, 19-byte ones in one
                pos = _WS_RE.match(data, pos + em.end()).end()
            lex.pos = pos

    def _load_xref_stream(self, pos: int) -> dict:
        lex = _Lexer(self.data, pos)
        num = lex.read_object()
        gen = lex.read_object()
        m = _TOK.match(self.data, lex.pos)
        if not isinstance(num, int) or not isinstance(gen, int) or \
                not m or m.group(3) != b"obj":
            raise PdfError("xref stream: not an indirect object")
        obj, start = _body(self.data, m.end())
        if not isinstance(obj, Stream):
            raise PdfError("xref stream: object is not a stream")
        self._fill_raw(obj, start)
        d = obj.dict
        if str(d.get("Type")) != "XRef":
            raise PdfError("xref stream: /Type is not /XRef")
        data = self._apply_filters(obj, self._resolve_direct)
        w = [int(x) for x in d["W"]]
        size = int(d["Size"])
        index = d.get("Index", [0, size])
        rowlen = sum(w)
        pos = 0

        starts = [sum(w[:k]) for k in range(len(w))]

        def field(row: bytes, k: int) -> int:
            if w[k] == 0:
                return 1 if k == 0 else 0  # default type 1
            return int.from_bytes(row[starts[k]:starts[k] + w[k]], "big")

        for s in range(0, len(index), 2):
            first, count = int(index[s]), int(index[s + 1])
            for i in range(count):
                row = data[pos:pos + rowlen]
                pos += rowlen
                if len(row) < rowlen:
                    raise PdfError("xref stream truncated")
                t = field(row, 0)
                if t == 1:
                    self.xref.setdefault(first + i, field(row, 1))
                elif t == 2:
                    self.xref.setdefault(
                        first + i, (field(row, 1), field(row, 2)))
        return d

    def _repair_scan(self) -> None:
        """Rebuild the xref by scanning for ``N G obj`` (crawl-grade
        recovery for files with damaged/missing xref)."""
        self.xref.clear()
        self._cache.clear()
        self.xref.update(self._object_offsets())
        trailer: dict = {}
        for tm in re.finditer(rb"trailer", self.data):
            lex = _Lexer(self.data, tm.end())
            try:
                t = lex.read_object()
            except PdfError:
                continue
            if isinstance(t, dict):
                trailer.update(t)
        if "Root" not in trailer:
            for onum in list(self.xref):
                try:
                    obj = self._load_obj(onum)
                except PdfError:
                    continue
                d = obj.dict if isinstance(obj, Stream) else obj
                if isinstance(d, dict) and str(d.get("Type")) == "Catalog":
                    trailer["Root"] = Ref(onum, 0)
                    break
        if "Root" not in trailer:
            raise PdfError("repair scan found no catalog")
        self.trailer = trailer

    # -- object resolution -------------------------------------------------

    def _fill_raw(self, stream: Stream, start: int) -> None:
        length = self.resolve(stream.dict.get("Length"))
        if isinstance(length, int) and \
                self.data[start + length:start + length + 32].lstrip(
                    _WS).startswith(b"endstream"):
            stream.raw = self.data[start:start + length]
        else:  # wrong/missing /Length: scan for endstream
            j = self.data.find(b"endstream", start)
            if j < 0:
                raise PdfError("unterminated stream")
            stream.raw = self.data[start:j].rstrip(b"\r\n")

    def _resolve_direct(self, obj):
        # resolver usable while loading xref streams (no recursion into
        # compressed objects, which can't hold stream /Length anyway)
        if isinstance(obj, Ref):
            off = self.xref.get(obj.num)
            if not isinstance(off, int):
                raise PdfError(f"unresolvable early ref {obj!r}")
            return self._load_at(off, obj.num)
        return obj

    def _load_at(self, offset: int, expect_num: int):
        m = _OBJ_AT.match(self.data, offset)
        if not m or int(m.group(1)) != expect_num:
            # offsets may be stale (incremental updates): use the file's
            # last ``N G obj`` for this number
            found = self._object_offsets().get(expect_num)
            if found is None:
                raise PdfError(f"object {expect_num} not at offset {offset}")
            m = _OBJ_RE.match(self.data, found)
        obj, start = _body(self.data, m.end())
        if isinstance(obj, Stream):
            self._fill_raw(obj, start)
        return obj

    def _object_offsets(self) -> dict[int, int]:
        """Object number -> offset of its last ``N G obj`` in the file
        (incremental updates append, so the later one wins); one scan
        per document, shared by stale offsets and the repair scan."""
        if self._objects is None:
            self._objects = {int(m.group(1)): m.start()
                             for m in _OBJ_RE.finditer(self.data)}
        return self._objects

    def _load_objstm(self, stm_num: int) -> dict[int, object]:
        if stm_num in self._objstm_cache:
            return self._objstm_cache[stm_num]
        stm = self.get(stm_num)
        if not isinstance(stm, Stream) or str(stm.dict.get("Type")) != "ObjStm":
            raise PdfError(f"object {stm_num} is not an ObjStm")
        data = self._apply_filters(stm, self.resolve)
        n = int(self.resolve(stm.dict["N"]))
        first = int(self.resolve(stm.dict["First"]))
        head = _Lexer(data[:first])
        pairs = []
        for _ in range(n):
            onum = head.read_object()
            off = head.read_object()
            pairs.append((int(onum), int(off)))
        objs: dict[int, object] = {}
        for onum, off in pairs:
            objs[onum] = _Lexer(data, first + off).read_object()
        self._objstm_cache[stm_num] = objs
        return objs

    def _load_obj(self, num: int):
        loc = self.xref.get(num)
        if loc is None:
            return None
        if isinstance(loc, tuple):
            stm_num, idx = loc
            objs = self._load_objstm(stm_num)
            # index-keyed lookup fallback: spec keys by object number
            return objs.get(num, list(objs.values())[idx]
                            if idx < len(objs) else None)
        return self._load_at(loc, num)

    def get(self, num: int):
        if num not in self._cache:
            self._cache[num] = self._load_obj(num)
        return self._cache[num]

    def resolve(self, obj):
        if not isinstance(obj, Ref):
            return obj
        seen = set()
        while isinstance(obj, Ref):
            if obj.num in seen:
                raise PdfError(f"reference cycle at object {obj.num}")
            seen.add(obj.num)
            obj = self.get(obj.num)
        return obj

    def decoded(self, stream: Stream) -> bytes:
        return self._apply_filters(stream, self.resolve)

    def _apply_filters(self, stream: Stream, resolve) -> bytes:
        filt = resolve(stream.dict.get("Filter"))
        parms = resolve(stream.dict.get("DecodeParms"))
        if filt is None:
            return stream.raw
        if not isinstance(filt, list):
            filt, parms = [filt], [parms]
        elif not isinstance(parms, list):
            parms = [parms] * len(filt)
        data = stream.raw
        for f, p in zip(filt, parms):
            f = str(resolve(f))
            p = resolve(p) or {}
            if f == "FlateDecode":
                left = _INFLATE_BUDGET - self._inflated
                z = zlib.decompressobj()
                data = z.decompress(data, left + 1)
                if len(data) > left:
                    raise PdfError(f"streams inflate past the "
                                   f"{_INFLATE_BUDGET}-byte budget")
                if not z.eof:  # what zlib.decompress would raise
                    raise zlib.error("Error -5 while decompressing data: "
                                     "incomplete or truncated stream")
                self._inflated += len(data)
                pred = int(resolve(p.get("Predictor", 1)) or 1)
                if pred >= 10:
                    data = _png_unpredict(
                        data,
                        int(resolve(p.get("Columns", 1)) or 1),
                        int(resolve(p.get("Colors", 1)) or 1),
                        int(resolve(p.get("BitsPerComponent", 8)) or 8))
                elif pred != 1:
                    raise PdfError(f"unsupported predictor {pred}")
            elif f == "ASCIIHexDecode":
                data = _unhex(data.split(b">")[0])
            else:
                raise PdfError(f"unsupported filter {f}")
        return data

    # -- page tree ---------------------------------------------------------

    def pages(self) -> list[dict]:
        root = self.resolve(self.trailer["Root"])
        if not isinstance(root, dict):
            raise PdfError("bad /Root")
        out: list[dict] = []
        seen: set[int] = set()   # ids of the /Pages nodes walked
        stack = [root.get("Pages")]
        while stack:
            node = self.resolve(stack.pop())
            if not isinstance(node, dict):
                continue
            t = str(node.get("Type"))
            if t == "Page":
                out.append(node)
            else:  # Pages (or typeless intermediate): preserve order
                if id(node) in seen:
                    raise PdfError("page tree cycle")
                seen.add(id(node))
                kids = self.resolve(node.get("Kids")) or []
                for kid in reversed(list(kids)):
                    stack.append(kid)
        return out

    def page_content(self, page: dict) -> bytes:
        contents = self.resolve(page.get("Contents"))
        if contents is None:
            return b""
        if isinstance(contents, Stream):
            return self.decoded(contents)
        streams = [self.resolve(c) for c in contents]
        return b"\n".join(
            self.decoded(s) for s in streams if isinstance(s, Stream))


# ---------------------------------------------------------------------------
# content-stream text interpreter (PDF §9.4) + layout assembly
# ---------------------------------------------------------------------------

_LINE_TOL = 2.0
#: the text operators the interpreter runs (every other one just
#: clears the operand stack)
_TEXT_OPS = {b"Td": 1, b"Tj": 2, b"TJ": 2, b"BT": 3, b"ET": 4, b"TD": 5,
             b"Tm": 6, b"TL": 7, b"T*": 8, b"'": 9, b'"': 9, b"BI": 10}


def _spans_from_content(content: bytes) -> list[tuple[float, float, str]]:
    """Run the text operators, emitting (y, x, text) spans at each show
    op's text-matrix origin.  Graphics-state ops are skipped; inline
    images (BI..EI) are jumped over."""
    data = content
    toks, lim, base, end = _scan(data, 0, _SCAN_MAX)
    i = 0
    stack: list = []
    spans: list[tuple[float, float, str]] = []
    # text state
    tm = tlm = (0.0, 0.0)   # translation component only (scope note above)
    leading = 0.0
    in_text = False

    def show(obj) -> None:
        if isinstance(obj, bytes):
            s = obj.decode("latin-1")
        elif isinstance(obj, list):  # TJ
            s = "".join(p.decode("latin-1")
                        for p in obj if isinstance(p, bytes))
        else:
            return
        if s:
            spans.append((tm[1], tm[0], s))

    while True:
        while i >= lim:
            toks, i, lim, base, end = _rescan(data, toks, i, base, end)
        name, num, op, s, d, _ = toks[i]
        i += 1
        if num:  # a plain operand: no indirect references in content
            try:
                stack.append(float(num) if 0x2E in num else int(num))
            except ValueError:
                stack.clear()
            continue
        if name:
            stack.append(Name(name[1:].decode("latin-1") if 0x23 not in name
                              else _name(name)))
            continue
        if s:
            if s[0] == 0x28 and 0x5C not in s:  # a plain literal string
                stack.append(s[1:-1])
            else:
                stack.append(_string(s))
            continue
        if d:
            # arrays and dicts are objects, and so are the strings the
            # scan left whole-less; a stray ')' ']' '>' '{' '}' leaves
            # the operands alone
            if d == b"[" or d == b"<<":
                v, toks, i, lim, base, end = _object(data, toks, i - 1, lim,
                                                     base, end)
                stack.append(v)
            elif d == b"(" or d == b"<":
                v, p = (_literal if d == b"(" else _hex)(
                    data, _at(toks, i - 1, base, end))
                stack.append(v)
                toks, i, lim, base, end = [], 0, 0, p, p
            continue
        code = _TEXT_OPS.get(op)
        if code is None:
            if not op:
                break  # past the last token
        else:
            try:
                if code == 1:  # Td
                    tlm = (tlm[0] + float(stack[-2]),
                           tlm[1] + float(stack[-1]))
                    tm = tlm
                elif code == 2:  # Tj TJ
                    if in_text and stack:
                        show(stack[-1])
                elif code == 3:  # BT
                    tm = tlm = (0.0, 0.0)
                    in_text = True
                elif code == 4:  # ET
                    in_text = False
                elif code == 5:  # TD
                    leading = -float(stack[-1])
                    tlm = (tlm[0] + float(stack[-2]),
                           tlm[1] + float(stack[-1]))
                    tm = tlm
                elif code == 6:  # Tm
                    tlm = (float(stack[-2]), float(stack[-1]))
                    tm = tlm
                elif code == 7:  # TL
                    leading = float(stack[-1])
                elif code == 8:  # T*
                    tlm = (tlm[0], tlm[1] - leading)
                    tm = tlm
                elif code == 9:  # ' "
                    tlm = (tlm[0], tlm[1] - leading)
                    tm = tlm
                    if in_text and stack:
                        show(stack[-1])
                else:  # BI: an inline image, skipped to its EI
                    m = _EI_RE.search(data, _at(toks, i - 1, base, end) + 2)
                    p = m.end() if m else len(data)
                    toks, i, lim, base, end = [], 0, 0, p, p
            except (IndexError, TypeError, ValueError):
                pass
        stack.clear()
    return spans


def _assemble(spans: list[tuple[float, float, str]]) -> str:
    """Reading order: lines by y descending (tolerance grouping), spans
    within a line by x ascending joined with single spaces."""
    if not spans:
        return ""
    spans = sorted(spans, key=lambda s: (-s[0], s[1]))
    lines: list[list[tuple[float, str]]] = []
    cur_y = None
    for y, x, text in spans:
        if cur_y is None or abs(y - cur_y) > _LINE_TOL:
            lines.append([])
            cur_y = y
        lines[-1].append((x, text))
    return "\n".join(
        " ".join(t for _x, t in sorted(line, key=lambda p: p[0]))
        for line in lines)


def extract_pdf_text(data: bytes) -> tuple[int, str]:
    """(n_pages, layout-ordered text; pages joined with form-feed)."""
    doc = PdfParser(data)
    pages = doc.pages()
    texts = [_assemble(_spans_from_content(doc.page_content(p)))
             for p in pages]
    return len(pages), "\x0c".join(texts)


def pdf_page_count(data: bytes) -> int:
    return len(PdfParser(data).pages())
