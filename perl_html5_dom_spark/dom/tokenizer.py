"""HTML5 tokenizer (WHATWG §13.2.5), pure Python, regex-accelerated.

Re-implements from scratch the behavior the reference gets from MyHTML's
tokenizer (invoked at /root/reference/DOM.xs:963). Emits plain tuples;
the tree builder drives the raw-text state switches (RCDATA / RAWTEXT /
script data / PLAINTEXT) via :meth:`Tokenizer.set_rawtext`.

Token shapes (tuples, for speed):
    ("char",    text, raw_begin, raw_length)
    ("start",   name, attrs, self_closing, raw_begin, raw_length,
                 elem_begin, elem_length)
    ("end",     name, raw_begin, raw_length, elem_begin, elem_length)
    ("comment", data, raw_begin, raw_length, elem_begin, elem_length)
    ("doctype", name, public_id, system_id, force_quirks)
    ("eof",)

In the data state, one match of ``_TOKEN_RE`` per token reads a text run
or a tag of a common shape: an ASCII name of letters, digits and ``-``
(``annotation-xml``, ``foreignObject``; lowercased as read) with only
double-quoted attributes, whose values may hold ``&`` references
(decoded by :func:`decode_entities_attr`).  Every other shape at ``<`` —
comments, doctypes, other quoting, NUL, bogus markup — goes through the
character loop (:meth:`Tokenizer._markup`).  Names lowercase ASCII upper
alpha only (``ASCII_LOWER``), as the spec and MyHTML do.

Positions mirror the reference's token spans (/root/reference/DOM.xs:2161-2172,
verified by t/0-api.t:709-713): ``raw_*`` covers the tag name as it appeared,
``elem_*`` covers ``<`` .. ``>`` inclusive.  Offsets are in code points of the
decoded input string.
"""

from __future__ import annotations

import html as _html
import re
from functools import lru_cache
from html.entities import html5 as _HTML5_ENTITIES

from .constants import ASCII_LOWER

__all__ = ["Tokenizer", "decode_entities_attr"]

_WS = "\t\n\x0c "

_TAG_NAME_RE = re.compile(r"[a-zA-Z][^\t\n\x0c />]*")
# attribute names: only the FIRST character may be '=' (13.2.5.32
# unexpected-equals-sign-before-attribute-name starts the name with it;
# any LATER '=' terminates the name and starts the value — the old
# `=+` form swallowed a second '=' plus quote chars, round-4 fuzz find)
_ATTR_NAME_RE = re.compile(r"[^\t\n\x0c />=][^\t\n\x0c />=]*|=[^\t\n\x0c />=]*")
_UNQUOTED_VAL_RE = re.compile(r"[^\t\n\x0c >]*")
_DOCTYPE_RE = re.compile(r"doctype", re.IGNORECASE | re.ASCII)
_COMMENT_END_RE = re.compile(r"--!?>")

#: script-data escape scanner (WHATWG 13.2.5.18-29): the markers that
#: change the escaped / double-escaped state or close the element
_SCRIPT_RE = re.compile(
    r"(<!--)|(-->)|(</script(?=[\t\n\x0c />]|$))|(<script(?=[\t\n\x0c />]|$))",
    re.IGNORECASE | re.ASCII)

# -- the data state's one match per token (module docstring) --------------
# Each tag shape here reads EXACTLY as the character loop reads it; the
# common case — the overwhelming majority of real-web tokens — costs one
# C call.
_TOKEN_RE = re.compile(
    r"([^<]+)"                                    # 1: text run
    r"|<([a-zA-Z][a-zA-Z0-9-]*)"                  # 2: start tag name
    r"((?:[\t\n\x0c ]+"                           # 3: its attributes
    r"[a-zA-Z][a-zA-Z0-9_:.-]*=\"[^\"\x00]*\")*)"
    r"[\t\n\x0c ]*(/?)>"                          # 4: self-closing slash
    r"|</([a-zA-Z][a-zA-Z0-9-]*)[\t\n\x0c ]*>"    # 5: end tag name
)
_TOKEN_ATTR_ITER = re.compile(r'([a-zA-Z][a-zA-Z0-9_:.-]*)="([^"]*)"')

# attribute-value character references: named refs without a trailing ';'
# are NOT expanded when followed by [a-zA-Z0-9=] (WHATWG §13.2.5.73)
_ATTR_ENTITY_RE = re.compile(
    r"&(#[0-9]+;?|#[xX][0-9a-fA-F]+;?|[a-zA-Z][a-zA-Z0-9]{0,32};?)"
)

#: legacy (no-semicolon) entity names, and the longest one's length
_LEGACY = {n: v for n, v in _HTML5_ENTITIES.items() if not n.endswith(";")}
_LEGACY_MAX = max(map(len, _LEGACY))


def decode_entities_attr(value: str) -> str:
    """Entity-decode an attribute value per the attribute-state rules."""
    if "&" not in value:
        return value
    out = []
    i = 0
    while True:
        j = value.find("&", i)
        if j == -1:
            out.append(value[i:])
            break
        out.append(value[i:j])
        m = _ATTR_ENTITY_RE.match(value, j)
        if not m:
            out.append("&")
            i = j + 1
            continue
        body = m.group(1)
        end = m.end()
        if body[0] == "#" or body.endswith(";"):
            if body[0] != "#" and body not in _HTML5_ENTITIES:
                # unknown named entity with ';': in ATTRIBUTES the legacy
                # prefix never expands — the max-munch match ends on a
                # non-';' char whose successor is alnum (entity names are
                # alnum), which §13.2.5.73 flushes literally.  (&noti; →
                # "&noti;" here but "¬i;" in text; html5lib entities02.)
                out.append("&" + body)
            else:
                out.append(_decode_body(body))
        else:
            # no semicolon: the longest legacy prefix (one dict probe per
            # length) expands only if the char right after it is not
            # alnum or '='
            for k in range(min(len(body), _LEGACY_MAX), 0, -1):
                repl = _LEGACY.get(body[:k])
                if repl is not None:
                    nxt = value[j + 1 + k: j + 2 + k]
                    if nxt.isalnum() or nxt == "=":
                        repl = None
                    break
            if repl is None:
                out.append("&" + body)
            else:
                out.append(repl + body[k:])
        i = end
    return "".join(out)


# WHATWG numeric-character-reference end state (13.2.5.80): Python's
# html.unescape DEVIATES from the current spec by dropping noncharacters
# and C0-control references outright — the spec emits them (parse error
# only).  Numeric refs are therefore decoded here; named refs still
# delegate to html.unescape (its named/legacy max-munch matches).
_C1_REMAP = {
    0x80: 0x20AC, 0x82: 0x201A, 0x83: 0x0192, 0x84: 0x201E, 0x85: 0x2026,
    0x86: 0x2020, 0x87: 0x2021, 0x88: 0x02C6, 0x89: 0x2030, 0x8A: 0x0160,
    0x8B: 0x2039, 0x8C: 0x0152, 0x8E: 0x017D, 0x91: 0x2018, 0x92: 0x2019,
    0x93: 0x201C, 0x94: 0x201D, 0x95: 0x2022, 0x96: 0x2013, 0x97: 0x2014,
    0x98: 0x02DC, 0x99: 0x2122, 0x9A: 0x0161, 0x9B: 0x203A, 0x9C: 0x0153,
    0x9E: 0x017E, 0x9F: 0x0178,
}

# numeric runs are UNBOUNDED (§13.2.5.79-80 consumes every digit and
# emits ONE char — a capped regex would leave trailing digits literal);
# the value itself is clamped in _decode_body before chr()
_ENT_RE = re.compile(
    r"&(#[0-9]+;?|#[xX][0-9a-fA-F]+;?|[a-zA-Z][a-zA-Z0-9]*;?)")


def _numref_char(num: int) -> str:
    if num == 0 or num > 0x10FFFF or 0xD800 <= num <= 0xDFFF:
        return "\ufffd"
    return chr(_C1_REMAP.get(num, num))


def _decode_body(body: str) -> str:
    """Decode one &-reference body matched by _ENT_RE.

    Digit runs are unbounded, so clamp BEFORE int(): strip leading
    zeros and anything longer than the 0x10FFFF digit budget (6 hex /
    7 decimal) is overflow → U+FFFD, without ever materializing a
    million-digit bignum from adversarial input."""
    if body[0] == "#":
        digits = body[1:].rstrip(";")
        if digits[0] in "xX":
            sig = digits[1:].lstrip("0")
            num = int(sig, 16) if 0 < len(sig) <= 6 else (
                0 if not sig else 0x110000)
        else:
            sig = digits.lstrip("0")
            num = int(sig) if 0 < len(sig) <= 7 else (
                0 if not sig else 0x110000)
        return _numref_char(num)
    return _html.unescape("&" + body)


def _decode_text(text: str) -> str:
    if "&" not in text:
        return text
    out = []
    pos = 0
    for m in _ENT_RE.finditer(text):
        out.append(text[pos:m.start()])
        out.append(_decode_body(m.group(1)))
        pos = m.end()
    out.append(text[pos:])
    return "".join(out)




@lru_cache(maxsize=None)
def _raw_end_re(tag: str) -> re.Pattern:
    """The end tag that closes RCDATA / RAWTEXT opened by ``tag``,
    compiled once per tag name (the tree builder passes a handful of
    them), not once per raw-text token."""
    return re.compile(r"</" + re.escape(tag) + r"(?=[\t\n\x0c />]|$)",
                      re.IGNORECASE | re.ASCII)


class Tokenizer:
    """Pull tokenizer. The tree builder calls :meth:`next_token` repeatedly
    and may call :meth:`set_rawtext` / :attr:`allow_cdata` between pulls."""

    __slots__ = ("src", "pos", "n", "_raw_mode", "_raw_end", "allow_cdata", "_done")

    def __init__(self, src: str) -> None:
        # input-stream preprocessing: newline normalization (WHATWG §13.2.3.5)
        if "\r" in src:
            src = src.replace("\r\n", "\n").replace("\r", "\n")
        self.src = src
        self.pos = 0
        self.n = len(src)
        self._raw_mode: str | None = None  # 'rcdata'|'rawtext'|'script'|'plaintext'
        self._raw_end: re.Pattern | None = None  # RCDATA/RAWTEXT end tag
        self.allow_cdata = False
        self._done = False

    # -- state switches driven by the tree builder ---------------------
    def set_rawtext(self, tag: str, mode: str) -> None:
        self._raw_mode = mode
        self._raw_end = _raw_end_re(tag)

    # -- main entry -----------------------------------------------------
    def next_token(self):
        """The next token.  In the data state one ``_TOKEN_RE`` match per
        token reads a text run or a tag of a common shape; other markup
        goes through :meth:`_markup`.  A dropped ``</>`` loops instead of
        recursing."""
        src = self.src
        while True:
            if self._raw_mode is not None:
                token = self._raw_token()
            else:
                pos = self.pos
                m = _TOKEN_RE.match(src, pos)
                if m is None:
                    if pos >= self.n:
                        self._done = True
                        return ("eof",)
                    token = self._markup(pos)
                else:
                    end = self.pos = m.end()
                    kind = m.lastindex
                    if kind == 1:
                        # NUL passes through: the data state EMITS U+0000
                        # (with a parse error) and the tree stage decides —
                        # "in body"/"in table text"/"in select" ignore it,
                        # foreign content turns it into U+FFFD (WHATWG
                        # 13.2.5.1 + 13.2.6.5)
                        text = m.group(1)
                        if "&" in text:
                            text = _decode_text(text)
                        return ("char", text, pos, end - pos)
                    if kind == 5:
                        name = m.group(5)
                        # the names are ASCII: str.lower is ASCII lowercasing
                        return ("end", name.lower(), pos + 2, len(name),
                                pos, end - pos)
                    name, rawattrs, slash = m.group(2, 3, 4)
                    attrs = []
                    if rawattrs:
                        seen = set()
                        for aname, value in _TOKEN_ATTR_ITER.findall(
                                rawattrs):
                            aname = aname.lower()
                            if aname not in seen:   # first one wins
                                seen.add(aname)
                                if "&" in value:
                                    value = decode_entities_attr(value)
                                attrs.append((aname, value))
                    return ("start", name.lower(), attrs, slash == "/",
                            pos + 1, len(name), pos, end - pos)
            if token is not None:
                return token

    # -- raw text (RCDATA / RAWTEXT / script data / PLAINTEXT) ----------
    def _raw_token(self):
        src, n = self.src, self.n
        pos = self.pos
        mode = self._raw_mode
        if mode == "plaintext":
            self._raw_mode = None
            self.pos = n
            text = src[pos:].replace("\x00", "�")
            return ("char", text, pos, n - pos)
        # find the appropriate end tag
        if mode == "script":
            end = self._script_end(pos)
        else:
            m = self._raw_end.search(src, pos)
            end = None if m is None else m.start()
        if end is None:
            self._raw_mode = None
            self.pos = n
            if pos >= n:
                return ("eof",)
            text = src[pos:].replace("\x00", "�")
            if mode == "rcdata":
                text = _decode_text(text)
            return ("char", text, pos, n - pos)
        if end > pos:
            self.pos = end
            text = src[pos:end].replace("\x00", "�")
            if mode == "rcdata":
                text = _decode_text(text)
            return ("char", text, pos, end - pos)
        # at the end tag: leave raw text; the caller tokenizes the tag
        self._raw_mode = None
        return None

    def _script_end(self, pos: int):
        """Start of the ``</script`` end tag that really closes script
        data, honoring the escaped / double-escaped tokenizer states
        (WHATWG 13.2.5.18-29): inside ``<!-- <script> … -->`` the first
        ``</script>`` only exits the double-escaped state (it is script
        TEXT), and the element closes at the next one.  None = runs to
        EOF.  A ``<!--`` match re-exposes its trailing dashes so the
        dash-dash states' immediate ``<!-->`` / ``<!--->`` exits work."""
        src = self.src
        state = 0  # 0 = script data, 1 = escaped, 2 = double-escaped
        i = pos
        while True:
            m = _SCRIPT_RE.search(src, i)
            if m is None:
                return None
            g = m.lastindex
            if g == 1:
                # entering (or already in) an escape: the trailing "--"
                # stays live so the dash-dash states' immediate ">" exit
                # works (<!--> and <!---> leave script data unescaped)
                if state == 0:
                    state = 1
                i = m.end() - 2
                continue
            if state == 0:
                if g == 3:
                    return m.start()
            elif state == 1:
                if g == 2:
                    state = 0
                elif g == 3:
                    return m.start()
                elif g == 4:
                    state = 2
            else:
                if g == 2:
                    state = 0
                elif g == 3:
                    state = 1
            i = m.end()

    # -- markup dispatch at '<' -----------------------------------------
    def _markup(self, lt: int):
        src, n = self.src, self.n
        i = lt + 1
        if i >= n:
            self.pos = n
            return ("char", "<", lt, 1)
        c = src[i]
        if c == "/":
            return self._end_tag(lt)
        if c == "!":
            if src.startswith("--", i + 1):
                return self._comment(lt)
            m = _DOCTYPE_RE.match(src, i + 1)
            if m:
                return self._doctype(lt, m.end())
            if self.allow_cdata and src.startswith("[CDATA[", i + 1):
                end = src.find("]]>", i + 8)
                if end == -1:
                    self.pos = n
                    return ("char", src[i + 8:], i + 8, n - i - 8)
                self.pos = end + 3
                return ("char", src[i + 8: end], i + 8, end - i - 8)
            return self._bogus_comment(lt, i + 1)
        if c == "?":
            return self._bogus_comment(lt, i)
        if c.isalpha() and c.isascii():
            return self._start_tag(lt)
        # plain '<'
        self.pos = i
        return ("char", "<", lt, 1)

    def _bogus_comment(self, lt: int, data_start: int):
        src, n = self.src, self.n
        gt = src.find(">", data_start)
        if gt == -1:
            self.pos = n
            data = src[data_start:]
            end = n
        else:
            self.pos = gt + 1
            data = src[data_start:gt]
            end = gt + 1
        data = data.replace("\x00", "�")
        return ("comment", data, data_start, len(data), lt, end - lt)

    def _comment(self, lt: int):
        src, n = self.src, self.n
        ds = lt + 4  # after '<!--'
        # spec: '<!-->' and '<!--->' close immediately with empty data
        if src.startswith(">", ds):
            self.pos = ds + 1
            return ("comment", "", ds, 0, lt, ds + 1 - lt)
        if src.startswith("->", ds):
            self.pos = ds + 2
            return ("comment", "", ds, 0, lt, ds + 2 - lt)
        # the first '-->' or '--!>' in one scan, so that no comment
        # searches past its own end
        m = _COMMENT_END_RE.search(src, ds)
        if m is not None:
            data = src[ds:m.start()]
            self.pos = end = m.end()
        else:
            data = src[ds:]
            # EOF-in-comment: trailing dashes belong to data per spec resync
            self.pos = n
            end = n
        data = data.replace("\x00", "�")
        return ("comment", data, ds, len(data), lt, end - lt)

    def _doctype(self, lt: int, after_kw: int):
        src, n = self.src, self.n
        i = after_kw
        while i < n and src[i] in _WS:
            i += 1
        if i >= n:
            self.pos = n
            return ("doctype", "", None, None, True)
        if src[i] == ">":
            self.pos = i + 1
            return ("doctype", "", None, None, True)
        # name
        j = i
        while j < n and src[j] not in _WS and src[j] != ">":
            j += 1
        name = src[i:j].translate(ASCII_LOWER).replace("\x00", "�")
        public_id = None
        system_id = None
        quirks = False
        i = j
        while i < n and src[i] in _WS:
            i += 1
        if i < n and src[i] != ">":
            kw = src[i: i + 6].translate(ASCII_LOWER)
            if kw == "public":
                i += 6
                public_id, i, ok = self._doctype_id(i)
                if not ok:
                    quirks = True
                else:
                    while i < n and src[i] in _WS:
                        i += 1
                    if i < n and src[i] in "\"'":
                        system_id, i, ok = self._doctype_id(i, expect_quote_only=True)
                        if not ok:
                            quirks = True
            elif kw == "system":
                i += 6
                system_id, i, ok = self._doctype_id(i)
                if not ok:
                    quirks = True
            else:
                quirks = True
        gt = src.find(">", i)
        if gt == -1:
            self.pos = n
            quirks = True
        else:
            self.pos = gt + 1
        return ("doctype", name, public_id, system_id, quirks)

    def _doctype_id(self, i: int, expect_quote_only: bool = False):
        src, n = self.src, self.n
        while i < n and src[i] in _WS:
            i += 1
        if i >= n or src[i] not in "\"'":
            return None, i, False
        q = src[i]
        j = src.find(q, i + 1)
        if j == -1:
            gt = src.find(">", i + 1)
            stop = gt if gt != -1 else n
            return src[i + 1: stop], stop, False
        # unterminated-by-'>' check: a '>' before the closing quote aborts
        gt = src.find(">", i + 1)
        if gt != -1 and gt < j:
            return src[i + 1: gt], gt, False
        return src[i + 1: j], j + 1, True

    def _end_tag(self, lt: int):
        src, n = self.src, self.n
        i = lt + 2
        if i >= n:
            self.pos = n
            return ("char", "</", lt, 2)
        c = src[i]
        if c == ">":
            # '</>' dropped entirely: no token
            self.pos = i + 1
            return None
        if not (c.isalpha() and c.isascii()):
            return self._bogus_comment(lt, i)
        m = _TAG_NAME_RE.match(src, i)
        name_raw = m.group(0)
        name = name_raw.translate(ASCII_LOWER)
        i = m.end()
        # skip (and discard) any attributes on the end tag
        attrs, self_closing, i, ok = self._attrs(i)
        if not ok:
            self.pos = n
            return ("eof",)
        self.pos = i
        return ("end", name, lt + 2, len(name_raw), lt, i - lt)

    def _start_tag(self, lt: int):
        src, n = self.src, self.n
        m = _TAG_NAME_RE.match(src, lt + 1)
        name_raw = m.group(0)
        name = name_raw.translate(ASCII_LOWER).replace("\x00", "�")
        i = m.end()
        attrs, self_closing, i, ok = self._attrs(i)
        if not ok:
            self.pos = n
            return ("eof",)
        self.pos = i
        return (
            "start", name, attrs, self_closing,
            lt + 1, len(name_raw), lt, i - lt,
        )

    def _attrs(self, i: int):
        """Parse attributes until '>' (inclusive). Returns
        (attrs, self_closing, new_pos, ok). ok=False on EOF-in-tag."""
        src, n = self.src, self.n
        attrs: list[tuple[str, str]] = []
        seen: set[str] = set()
        self_closing = False
        while True:
            while i < n and src[i] in _WS:
                i += 1
            if i >= n:
                return attrs, False, n, False
            c = src[i]
            if c == ">":
                return attrs, self_closing, i + 1, True
            if c == "/":
                # self-closing only if '/>' — otherwise skip the '/'
                if i + 1 < n and src[i + 1] == ">":
                    return attrs, True, i + 2, True
                i += 1
                continue
            m = _ATTR_NAME_RE.match(src, i)
            if not m:
                i += 1
                continue
            aname = m.group(0).translate(ASCII_LOWER).replace("\x00", "�")
            i = m.end()
            while i < n and src[i] in _WS:
                i += 1
            value = ""
            if i < n and src[i] == "=":
                i += 1
                while i < n and src[i] in _WS:
                    i += 1
                if i >= n:
                    return attrs, False, n, False
                q = src[i]
                if q == '"' or q == "'":
                    j = src.find(q, i + 1)
                    if j == -1:
                        return attrs, False, n, False
                    value = src[i + 1: j]
                    i = j + 1
                else:
                    m2 = _UNQUOTED_VAL_RE.match(src, i)
                    value = m2.group(0)
                    i = m2.end()
                value = value.replace("\x00", "�")
                if "&" in value:
                    value = decode_entities_attr(value)
            if aname not in seen:
                seen.add(aname)
                attrs.append((aname, value))
        # unreachable
