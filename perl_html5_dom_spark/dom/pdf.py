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
whole-file ``N G obj`` repair scan (what real crawl extractors do).
"""

from __future__ import annotations

import re
import zlib

__all__ = ["PdfError", "PdfParser", "extract_pdf_text", "pdf_page_count"]

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"

_NAME_HASH = re.compile(rb"#([0-9A-Fa-f]{2})")
# C-speed scanners for the lexer hot loops (round 6): one regex match
# replaces the per-byte Python loop.  Semantics identical by
# construction — the whitespace run also swallows %-comments to EOL
# exactly as the old loop did (an unterminated trailing comment runs to
# end of data), and the keyword class is the complement of WS ∪ DELIM.
_WS_RE = re.compile(rb"(?:[\x00\t\n\x0c\r ]+|%[^\n]*\n?)*")
_KW_RE = re.compile(rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]*")
# literal-string fast path: a run with no backslash and no parens,
# ending at the closing ')'
_LIT_PLAIN_RE = re.compile(rb"[^\\()]*\)")
# content-stream master token: leading whitespace/comments + ONE token,
# classified by group — one C-level match replaces the skip_ws / peek /
# read_keyword call triple per token in the §9.4 interpreter.  Group
# coverage is total: every byte is ws, '%' (comment), keyword-class
# (num/op, split on the numeric start set, or the run after '/'), or a
# delimiter — so a non-match can only mean trailing ws/comments.
# The ws/comment prefix is an atomic group: no token alternative starts
# with ws or '%', so giving any of it back can never help a match —
# backtracking into it only splits whitespace runs (exponential in the
# run length) or restarts a token inside a comment.
_CS_TOK = re.compile(
    rb"(?>(?:[\x00\t\n\x0c\r ]+|%[^\n]*\n?)*)"
    rb"(?:(?P<num>[+\-.0-9][^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    rb"|/(?P<name>[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    rb"|(?P<op>[^\x00\t\n\x0c\r ()<>\[\]{}/%]+)"
    rb"|(?P<delim>[()<>\[\]{}])"
    rb")")
# object-syntax master token (§7.3): same idea for read_object.  The
# ref alternative folds the common ws-separated ``INT INT R`` lookahead
# into the single match (it must precede num in the alternation); a
# digit-led token that is NOT a ws-separated ref (int arrays, refs
# split by comments) falls back to the old explicit lookahead, so the
# parse is bit-identical on every input.
_OBJ_TOK = re.compile(
    rb"(?>(?:[\x00\t\n\x0c\r ]+|%[^\n]*\n?)*)"
    rb"(?:(?P<rnum>\d+)[\x00\t\n\x0c\r ]+(?P<rgen>\d+)"
    rb"[\x00\t\n\x0c\r ]+R(?=[\x00\t\n\x0c\r ()<>\[\]{}/%]|$)"
    rb"|(?P<num>[+\-.0-9][^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    rb"|/(?P<name>[^\x00\t\n\x0c\r ()<>\[\]{}/%]*)"
    rb"|(?P<kw>[^\x00\t\n\x0c\r ()<>\[\]{}/%]+)"
    rb"|(?P<delim><<|[(<\[])"
    rb")")
# dict-body fast step: ws/comments + either the closing '>>' or a name
# key — one match per dict entry instead of skip_ws + two-byte slice
# compare + full read_object for the key
_DICT_KEY = re.compile(
    rb"(?>(?:[\x00\t\n\x0c\r ]+|%[^\n]*\n?)*)"
    rb"(?:(?P<end>>>)|/(?P<key>[^\x00\t\n\x0c\r ()<>\[\]{}/%]*))")


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


class _Lexer:
    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def skip_ws(self) -> None:
        self.pos = _WS_RE.match(self.data, self.pos).end()

    def peek(self) -> int:
        return self.data[self.pos] if self.pos < len(self.data) else -1

    def read_keyword(self) -> bytes:
        m = _KW_RE.match(self.data, self.pos)
        self.pos = m.end()
        return m.group()

    # -- object kinds ------------------------------------------------------

    def read_literal_string(self) -> bytes:
        data, n = self.data, len(self.data)
        self.pos += 1  # '('
        # fast path: no escapes, no nested parens — one regex match
        # lands exactly on the closing ')' (fails to match, and falls
        # through to the full state machine, the moment the next
        # special byte is '\\' or '(')
        m = _LIT_PLAIN_RE.match(data, self.pos)
        if m:
            self.pos = m.end()
            return m.group()[:-1]
        out = bytearray()
        depth = 1
        while self.pos < n:
            c = data[self.pos]
            self.pos += 1
            if c == 0x5C:  # backslash
                if self.pos >= n:
                    break
                e = data[self.pos]
                self.pos += 1
                if e in b"nrtbf":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9,
                                0x62: 8, 0x66: 12}[e])
                elif e in b"()\\":
                    out.append(e)
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    val = e - 0x30
                    for _ in range(2):
                        if self.pos < n and 0x30 <= data[self.pos] <= 0x37:
                            val = val * 8 + (data[self.pos] - 0x30)
                            self.pos += 1
                        else:
                            break
                    out.append(val & 0xFF)
                elif e == 0x0D:  # line continuation \CR[LF]
                    if self.pos < n and data[self.pos] == 0x0A:
                        self.pos += 1
                elif e == 0x0A:
                    pass
                else:
                    out.append(e)
            elif c == 0x28:
                depth += 1
                out.append(c)
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
            else:
                out.append(c)
        raise PdfError("unterminated literal string")

    def read_hex_string(self) -> bytes:
        self.pos += 1  # '<'
        j = self.data.find(b">", self.pos)
        if j < 0:
            raise PdfError("unterminated hex string")
        hexdigits = re.sub(rb"[^0-9A-Fa-f]", b"", self.data[self.pos:j])
        self.pos = j + 1
        if len(hexdigits) % 2:
            hexdigits += b"0"
        return bytes.fromhex(hexdigits.decode("ascii"))

    def read_object(self):
        data = self.data
        m = _OBJ_TOK.match(data, self.pos)
        if m is None:
            # distinguish end-of-data from a stray close-delimiter,
            # exactly as the old skip_ws + peek + read_keyword path did
            self.pos = _WS_RE.match(data, self.pos).end()
            if self.pos >= len(data):
                raise PdfError("unexpected end of data")
            raise PdfError(f"lex error at byte {self.pos}")
        # dispatch on the matched alternative (group indices: 1 rnum,
        # 2 rgen, 3 num, 4 name, 5 kw, 6 delim); lastindex counts an
        # empty name match, so bare '/' still lands on 4
        li = m.lastindex
        if li == 3:  # number (or the non-ws-separated-ref fallback)
            kw = m.group(3)
            self.pos = m.end()
            try:
                if b"." in kw or b"e" in kw or b"E" in kw:
                    return float(kw)
                num = int(kw)
            except ValueError as exc:
                raise PdfError(f"bad token {kw!r} at {self.pos}") from exc
            # possible indirect reference the master regex did not fold
            # (int arrays, or refs separated by comments): the old
            # explicit INT INT R lookahead, verbatim
            save = self.pos
            self.skip_ws()
            c2 = self.peek()
            if 0x30 <= c2 <= 0x39:
                kw2 = self.read_keyword()
                save2 = self.pos
                self.skip_ws()
                kw3 = self.read_keyword()
                if kw3 == b"R":
                    return Ref(num, int(kw2))
                self.pos = save2
                # second int was a separate object; rewind to before it
                self.pos = save
                return num
            self.pos = save
            return num
        if li == 4:  # name
            nm = m.group(4)
            self.pos = m.end()
            if b"#" in nm:
                nm = _NAME_HASH.sub(
                    lambda h: bytes([int(h.group(1), 16)]), nm)
            return Name(nm.decode("latin-1"))
        if li == 2:  # ws-separated INT INT R folded into one match
            self.pos = m.end()
            return Ref(int(m.group(1)), int(m.group(2)))
        if li == 6:  # delimiter-led object
            d = m.group(6)
            self.pos = m.start(6)
            if d == b"<<":
                return self._read_dict_or_stream()
            if d == b"(":
                return self.read_literal_string()
            if d == b"<":
                return self.read_hex_string()
            # '['
            self.pos += 1
            arr = []
            while True:
                self.skip_ws()
                if self.peek() == 0x5D:
                    self.pos += 1
                    return arr
                arr.append(self.read_object())
        kw = m.group(5)
        self.pos = m.end()
        if kw == b"true":
            return True
        if kw == b"false":
            return False
        if kw == b"null":
            return None
        try:
            if b"." in kw or b"e" in kw or b"E" in kw:
                return float(kw)
            num = int(kw)
        except ValueError as exc:
            raise PdfError(f"bad token {kw!r} at {self.pos}") from exc
        return num

    def _read_dict_or_stream(self):
        self.pos += 2  # '<<'
        d: dict = {}
        while True:
            m = _DICT_KEY.match(self.data, self.pos)
            if m is None:
                # not '>>' and not a name key: reproduce the old error
                # path (read_object raises its lex error, or yields a
                # non-Name object)
                self.skip_ws()
                key = self.read_object()
                if not isinstance(key, Name):
                    raise PdfError("dict key is not a name")
                d[str(key)] = self.read_object()
                continue
            if m.group("end") is not None:
                self.pos = m.end()
                break
            key = m.group("key")
            self.pos = m.end()
            if b"#" in key:
                key = _NAME_HASH.sub(
                    lambda h: bytes([int(h.group(1), 16)]), key)
            d[key.decode("latin-1")] = self.read_object()
        save = self.pos
        self.skip_ws()
        if self.data[self.pos:self.pos + 6] == b"stream":
            self.pos += 6
            if self.data[self.pos:self.pos + 2] == b"\r\n":
                self.pos += 2
            elif self.pos < len(self.data) and self.data[self.pos] in b"\n\r":
                self.pos += 1
            return Stream(d, b"")  # raw filled in by caller (needs /Length)
        self.pos = save
        return d


# ---------------------------------------------------------------------------
# filters
# ---------------------------------------------------------------------------


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
            for i in range(len(row)):
                row[i] = (row[i] + prev[i]) & 0xFF
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


def _apply_filters(stream: Stream, resolve) -> bytes:
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
            data = zlib.decompress(data)
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
            body = data.split(b">")[0]
            hexdigits = re.sub(rb"[^0-9A-Fa-f]", b"", body)
            if len(hexdigits) % 2:
                hexdigits += b"0"
            data = bytes.fromhex(hexdigits.decode("ascii"))
        else:
            raise PdfError(f"unsupported filter {f}")
    return data


# ---------------------------------------------------------------------------
# document parser
# ---------------------------------------------------------------------------

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")


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
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise PdfError("startxref not found")
        offset = int(m.group(1))
        seen: set[int] = set()
        while offset and offset not in seen:
            seen.add(offset)
            if offset >= len(self.data):
                raise PdfError("startxref beyond EOF")
            lex = _Lexer(self.data, offset)
            lex.skip_ws()
            if self.data[lex.pos:lex.pos + 4] == b"xref":
                trailer = self._load_xref_table(lex)
            else:
                trailer = self._load_xref_stream(lex)
            for k, v in trailer.items():
                self.trailer.setdefault(k, v)
            nxt = trailer.get("Prev")
            offset = int(nxt) if nxt is not None else 0

    def _load_xref_table(self, lex: _Lexer) -> dict:
        lex.pos += 4  # 'xref'
        while True:
            lex.skip_ws()
            if self.data[lex.pos:lex.pos + 7] == b"trailer":
                lex.pos += 7
                t = lex.read_object()
                if not isinstance(t, dict):
                    raise PdfError("bad trailer")
                # hybrid-reference files: /XRefStm points at an xref
                # stream carrying the compressed-object entries
                if "XRefStm" in t:
                    sub = _Lexer(self.data, int(t["XRefStm"]))
                    self._load_xref_stream(sub)
                return t
            first = lex.read_object()
            count = lex.read_object()
            if not isinstance(first, int) or not isinstance(count, int):
                raise PdfError("bad xref subsection header")
            lex.skip_ws()
            for i in range(count):
                entry = self.data[lex.pos:lex.pos + 20]
                em = re.match(rb"(\d{10})\s+(\d{5})\s+([nf])", entry)
                if not em:
                    raise PdfError("bad xref entry")
                if em.group(3) == b"n":
                    self.xref.setdefault(first + i, int(em.group(1)))
                lex.pos += 20 if entry[18:19] in (b"\r", b"\n", b" ") else 19
                lex.skip_ws()

    def _load_xref_stream(self, lex: _Lexer) -> dict:
        num = lex.read_object()
        gen = lex.read_object()
        kw = lex.read_keyword() if lex.skip_ws() is None else b""
        if not isinstance(num, int) or not isinstance(gen, int) or kw != b"obj":
            raise PdfError("xref stream: not an indirect object")
        obj = lex.read_object()
        if not isinstance(obj, Stream):
            raise PdfError("xref stream: object is not a stream")
        self._fill_raw(obj, lex)
        d = obj.dict
        if str(d.get("Type")) != "XRef":
            raise PdfError("xref stream: /Type is not /XRef")
        data = _apply_filters(obj, self._resolve_direct)
        w = [int(x) for x in d["W"]]
        size = int(d["Size"])
        index = d.get("Index", [0, size])
        rowlen = sum(w)
        pos = 0

        def field(row: bytes, k: int) -> int:
            start = sum(w[:k])
            chunk = row[start:start + w[k]]
            if w[k] == 0:
                return 1 if k == 0 else 0  # default type 1
            return int.from_bytes(chunk, "big")

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
        for m in _OBJ_RE.finditer(self.data):
            # later occurrences win: incremental updates append
            self.xref[int(m.group(1))] = m.start()
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

    def _fill_raw(self, stream: Stream, lex: _Lexer) -> None:
        length = self.resolve(stream.dict.get("Length"))
        start = lex.pos
        if isinstance(length, int) and \
                self.data[start + length:start + length + 32].lstrip(
                    _WS).startswith(b"endstream"):
            stream.raw = self.data[start:start + length]
            lex.pos = start + length
        else:  # wrong/missing /Length: scan for endstream
            j = self.data.find(b"endstream", start)
            if j < 0:
                raise PdfError("unterminated stream")
            stream.raw = self.data[start:j].rstrip(b"\r\n")
            lex.pos = j

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
        lex = _Lexer(self.data, offset)
        lex.skip_ws()
        m = _OBJ_RE.match(self.data, lex.pos)
        if not m or int(m.group(1)) != expect_num:
            # offsets may be stale (incremental updates); fall back to scan
            found = None
            for om in _OBJ_RE.finditer(self.data):
                if int(om.group(1)) == expect_num:
                    found = om
            if not found:
                raise PdfError(f"object {expect_num} not at offset {offset}")
            m = found
        lex.pos = m.end()
        obj = lex.read_object()
        if isinstance(obj, Stream):
            self._fill_raw(obj, lex)
        return obj

    def _load_objstm(self, stm_num: int) -> dict[int, object]:
        if stm_num in self._objstm_cache:
            return self._objstm_cache[stm_num]
        stm = self.get(stm_num)
        if not isinstance(stm, Stream) or str(stm.dict.get("Type")) != "ObjStm":
            raise PdfError(f"object {stm_num} is not an ObjStm")
        data = _apply_filters(stm, self.resolve)
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
        seen = set()
        while isinstance(obj, Ref):
            if obj.num in seen:
                raise PdfError(f"reference cycle at object {obj.num}")
            seen.add(obj.num)
            obj = self.get(obj.num)
        return obj

    def decoded(self, stream: Stream) -> bytes:
        return _apply_filters(stream, self.resolve)

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
            streams = [contents]
        else:
            streams = [self.resolve(c) for c in contents]
        return b"\n".join(
            self.decoded(s) for s in streams if isinstance(s, Stream))


# ---------------------------------------------------------------------------
# content-stream text interpreter (PDF §9.4) + layout assembly
# ---------------------------------------------------------------------------

_LINE_TOL = 2.0


def _spans_from_content(content: bytes) -> list[tuple[float, float, str]]:
    """Run the text operators, emitting (y, x, text) spans at each show
    op's text-matrix origin.  Graphics-state ops are skipped; inline
    images (BI..EI) are jumped over."""
    lex = _Lexer(content)
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

    data = content
    n = len(data)
    pos = 0
    while True:
        # one master-regex match per token (see _CS_TOK): same
        # tokenization as the old skip_ws/peek/read_keyword triple,
        # dispatched on the matched group
        m = _CS_TOK.match(data, pos)
        if m is None:
            break  # only trailing whitespace/comments remain
        pos = m.end()
        li = m.lastindex  # 1 num, 2 name, 3 op, 4 delim
        if li == 1:
            # plain numeric operand — never an indirect ref in content
            kw = m.group(1)
            try:
                stack.append(float(kw) if b"." in kw else int(kw))
            except ValueError:
                stack.clear()
            continue
        if li == 2:
            nm = m.group(2)
            if b"#" in nm:
                nm = _NAME_HASH.sub(
                    lambda h: bytes([int(h.group(1), 16)]), nm)
            stack.append(Name(nm.decode("latin-1")))
            continue
        if li == 4:
            d = m.group(4)
            if d == b"(" or d == b"[" or d == b"<":
                # string / array / hex-or-dict: delegate to the object
                # lexer from the delimiter (exactly what the old loop's
                # read_object() dispatch did)
                lex.pos = m.start(4)
                stack.append(lex.read_object())
                pos = lex.pos
            # stray ')' ']' '{' '}': skip the byte, stack untouched
            # (the old read_keyword-empty path)
            continue
        op = m.group(3)
        try:
            if op == b"BT":
                tm = tlm = (0.0, 0.0)
                in_text = True
            elif op == b"ET":
                in_text = False
            elif op == b"Td":
                tlm = (tlm[0] + float(stack[-2]), tlm[1] + float(stack[-1]))
                tm = tlm
            elif op == b"TD":
                leading = -float(stack[-1])
                tlm = (tlm[0] + float(stack[-2]), tlm[1] + float(stack[-1]))
                tm = tlm
            elif op == b"Tm":
                tlm = (float(stack[-2]), float(stack[-1]))
                tm = tlm
            elif op == b"TL":
                leading = float(stack[-1])
            elif op == b"T*":
                tlm = (tlm[0], tlm[1] - leading)
                tm = tlm
            elif op == b"Tj" or op == b"TJ":
                if in_text and stack:
                    show(stack[-1])
            elif op == b"'":
                tlm = (tlm[0], tlm[1] - leading)
                tm = tlm
                if in_text and stack:
                    show(stack[-1])
            elif op == b'"':
                tlm = (tlm[0], tlm[1] - leading)
                tm = tlm
                if in_text and stack:
                    show(stack[-1])
            elif op == b"BI":  # inline image: skip to EI
                j = data.find(b"EI", pos)
                pos = n if j < 0 else j + 2
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
