"""Encoding sniffing + detector family.

Re-implements the reference's encoding pipeline
(`html5_dom_auto_encoding`, /root/reference/utils.c:620-649):
meta-prescan within the first ``prescan_limit`` bytes (default 1024,
/root/reference/DOM.xs:434) → BOM detect+cut → content heuristic →
default; plus the standalone ``HTML5::DOM::Encoding`` detector family
(/root/reference/DOM.xs:2953-3062, behaviors t/0-api.t:1729-1777).

Encoding identity here is the canonical WHATWG label (a string); the
reference's integer ids are an artifact of the C enum, exposed via
``name2id``/``id2name`` over a stable table for API parity.
"""

from __future__ import annotations

import codecs
import re

PRESCAN_LIMIT = 1024

# canonical name -> python codec. Order defines the stable ids.
ENCODINGS: dict[str, str] = {
    "UTF-8": "utf-8",
    "UTF-16LE": "utf-16-le",
    "UTF-16BE": "utf-16-be",
    "WINDOWS-1251": "cp1251",
    "KOI8-R": "koi8-r",
    "KOI8-U": "koi8-u",
    "IBM866": "cp866",
    "ISO-8859-5": "iso8859-5",
    "X-MAC-CYRILLIC": "mac-cyrillic",
    "WINDOWS-1252": "cp1252",
    "WINDOWS-1250": "cp1250",
    "WINDOWS-1253": "cp1253",
    "WINDOWS-1254": "cp1254",
    "WINDOWS-1255": "cp1255",
    "WINDOWS-1256": "cp1256",
    "WINDOWS-1257": "cp1257",
    "WINDOWS-1258": "cp1258",
    "ISO-8859-1": "iso8859-1",
    "ISO-8859-2": "iso8859-2",
    "ISO-8859-3": "iso8859-3",
    "ISO-8859-4": "iso8859-4",
    "ISO-8859-6": "iso8859-6",
    "ISO-8859-7": "iso8859-7",
    "ISO-8859-8": "iso8859-8",
    "ISO-8859-10": "iso8859-10",
    "ISO-8859-13": "iso8859-13",
    "ISO-8859-14": "iso8859-14",
    "ISO-8859-15": "iso8859-15",
    "ISO-8859-16": "iso8859-16",
    "GBK": "gbk",
    "GB18030": "gb18030",
    "BIG5": "big5",
    "SHIFT_JIS": "shift_jis",
    "EUC-JP": "euc_jp",
    "EUC-KR": "euc_kr",
    "MACINTOSH": "mac-roman",
    "ISO-2022-JP": "iso2022_jp",
    # logical-order variant of iso-8859-8: same byte mapping, the
    # directionality difference is a rendering concern (WHATWG index)
    "ISO-8859-8-I": "iso8859-8",
    "WINDOWS-874": "cp874",
    "X-USER-DEFINED": "x-user-defined",  # custom codec registered below
}


def _xud_decode(data, errors: str = "strict"):
    """x-user-defined: 0x00-7F identity, 0x80-FF → U+F780-F7FF
    (WHATWG Encoding §14.5)."""
    b = bytes(data)
    return ("".join(chr(c) if c < 0x80 else chr(0xF700 + c)
                    for c in b), len(b))


def _xud_encode(text: str, errors: str = "strict"):
    out = bytearray()
    for ch in text:
        o = ord(ch)
        if o < 0x80:
            out.append(o)
        elif 0xF780 <= o <= 0xF7FF:
            out.append(o - 0xF700)
        elif errors == "replace":
            out.append(0x3F)
        else:
            raise UnicodeEncodeError(
                "x-user-defined", text, 0, 1, "unmappable")
    return bytes(out), len(text)


def _xud_search(name: str):
    if name.replace("_", "-") == "x-user-defined":
        return codecs.CodecInfo(_xud_encode, _xud_decode,
                                name="x-user-defined")
    return None


codecs.register(_xud_search)

_IDS = {name: i + 1 for i, name in enumerate(ENCODINGS)}
_NAMES = {v: k for k, v in _IDS.items()}

# WHATWG-ish labels → canonical name (subset covering the reference tests)
_LABELS = {
    "utf-8": "UTF-8", "utf8": "UTF-8", "unicode-1-1-utf-8": "UTF-8",
    "utf-16": "UTF-16LE", "utf-16le": "UTF-16LE", "utf-16be": "UTF-16BE",
    "windows-1251": "WINDOWS-1251", "cp1251": "WINDOWS-1251",
    "x-cp1251": "WINDOWS-1251",
    "koi8-r": "KOI8-R", "koi8": "KOI8-R", "koi8_r": "KOI8-R",
    "koi8-u": "KOI8-U", "koi8-ru": "KOI8-U",
    "ibm866": "IBM866", "866": "IBM866", "cp866": "IBM866",
    "iso-8859-5": "ISO-8859-5", "x-mac-cyrillic": "X-MAC-CYRILLIC",
    "windows-1252": "WINDOWS-1252", "latin1": "WINDOWS-1252",
    "iso-8859-1": "WINDOWS-1252", "ascii": "WINDOWS-1252",
    "us-ascii": "WINDOWS-1252", "l1": "WINDOWS-1252",
    "windows-1250": "WINDOWS-1250", "windows-1253": "WINDOWS-1253",
    "windows-1254": "WINDOWS-1254", "windows-1255": "WINDOWS-1255",
    "windows-1256": "WINDOWS-1256", "windows-1257": "WINDOWS-1257",
    "windows-1258": "WINDOWS-1258",
    "iso-8859-2": "ISO-8859-2", "latin2": "ISO-8859-2",
    "iso-8859-3": "ISO-8859-3", "latin3": "ISO-8859-3",
    "iso-8859-4": "ISO-8859-4", "latin4": "ISO-8859-4",
    "iso-8859-6": "ISO-8859-6", "arabic": "ISO-8859-6",
    "iso-8859-7": "ISO-8859-7", "greek": "ISO-8859-7",
    "iso-8859-8": "ISO-8859-8", "hebrew": "ISO-8859-8",
    "iso-8859-10": "ISO-8859-10", "iso-8859-13": "ISO-8859-13",
    "iso-8859-14": "ISO-8859-14", "iso-8859-15": "ISO-8859-15",
    "l9": "ISO-8859-15", "latin9": "ISO-8859-15",
    "iso-8859-16": "ISO-8859-16",
    # WHATWG folds iso-8859-9 (latin5) into windows-1254
    "iso-8859-9": "WINDOWS-1254", "latin5": "WINDOWS-1254",
    "l5": "WINDOWS-1254",
    "gbk": "GBK", "gb2312": "GBK", "gb18030": "GB18030",
    "big5": "BIG5", "shift_jis": "SHIFT_JIS", "shift-jis": "SHIFT_JIS",
    "sjis": "SHIFT_JIS", "euc-jp": "EUC-JP", "euc-kr": "EUC-KR",
    "macintosh": "MACINTOSH", "mac": "MACINTOSH",
    "x-mac-roman": "MACINTOSH", "csmacintosh": "MACINTOSH",
    "iso-2022-jp": "ISO-2022-JP", "csiso2022jp": "ISO-2022-JP",
    "iso-8859-8-i": "ISO-8859-8-I", "csiso88598i": "ISO-8859-8-I",
    "logical": "ISO-8859-8-I", "visual": "ISO-8859-8",
    "iso8859-8": "ISO-8859-8", "iso88598": "ISO-8859-8",
    # WHATWG folds the Thai family into windows-874
    "windows-874": "WINDOWS-874", "tis-620": "WINDOWS-874",
    "iso-8859-11": "WINDOWS-874", "iso8859-11": "WINDOWS-874",
    "dos-874": "WINDOWS-874",
    "x-user-defined": "X-USER-DEFINED",
}


def name2id(name: str) -> int | None:
    canon = _LABELS.get(name.strip().lower())
    if canon is None:
        canon = name.strip().upper()
    return _IDS.get(canon)


def id2name(eid: int) -> str | None:
    return _NAMES.get(eid)


def python_codec(name: str) -> str | None:
    canon = _LABELS.get(name.strip().lower(), name.strip().upper())
    return ENCODINGS.get(canon)


# ---------------------------------------------------------------------------
# BOM
# ---------------------------------------------------------------------------
def detect_bom_and_cut(data: bytes) -> tuple[str | None, bytes]:
    if data.startswith(codecs.BOM_UTF8):
        return "UTF-8", data[3:]
    if data.startswith(codecs.BOM_UTF16_LE):
        return "UTF-16LE", data[2:]
    if data.startswith(codecs.BOM_UTF16_BE):
        return "UTF-16BE", data[2:]
    return None, data


# ---------------------------------------------------------------------------
# charset= parsing & meta prescan
# ---------------------------------------------------------------------------
_CHARSET_RE = re.compile(rb"charset\s*=\s*[\"']?\s*([a-zA-Z0-9._\-]+)", re.I)
_META_RE = re.compile(rb"<meta\s[^>]*>", re.I)


def detect_by_charset(content_type: str | bytes) -> str | None:
    if isinstance(content_type, str):
        content_type = content_type.encode("ascii", "ignore")
    m = _CHARSET_RE.search(content_type)
    if not m:
        return None
    canon = _LABELS.get(m.group(1).decode("ascii").lower())
    return canon


def detect_by_prescan_stream(data: bytes | str,
                             limit: int = PRESCAN_LIMIT) -> str | None:
    """<meta charset>/<meta http-equiv=content-type> prescan within the
    first `limit` bytes (HTML spec §encoding sniffing; reference cap
    DOM.xs:434)."""
    if isinstance(data, str):
        data = data.encode("utf-8", "surrogateescape")
    head = data[:limit]
    for m in _META_RE.finditer(head):
        tag = m.group(0)
        enc = detect_by_charset(tag)
        if enc is not None:
            # x-user-defined / utf-16 in meta are remapped per spec
            if enc in ("UTF-16LE", "UTF-16BE"):
                return "UTF-8"
            if enc == "X-USER-DEFINED":
                return "WINDOWS-1252"
            return enc
    return None


# ---------------------------------------------------------------------------
# content heuristics (myencoding_detect analog)
# ---------------------------------------------------------------------------
_SMALL_BYTES = bytes(range(0x09))     # 0x00-0x08
_ASCII_BYTES = bytes(range(0x80))


def detect_unicode(data: bytes) -> str | None:
    """UTF-16LE/BE detection (reference detectUnicode, DOM.xs:2999-3013).

    Heuristic: in UTF-16 text of any single script, the high byte of each
    code unit is a small, near-constant value (0x00 for Latin, 0x04 for
    Cyrillic, ...) — count pairs whose high byte is <= 0x08 on each side.
    """
    if not data:
        return None
    n = min(len(data), 4096) & ~1
    pairs = n // 2
    if pairs < 4:
        return None
    # stride slices pick the high bytes of each side; translate deletes
    # the hits, so the length drop counts them (C loops, no Python one)
    le_hi = data[1:n:2]
    be_hi = data[0:n:2]
    le_hits = pairs - len(le_hi.translate(None, _SMALL_BYTES))
    be_hits = pairs - len(be_hi.translate(None, _SMALL_BYTES))
    if le_hits >= pairs * 0.9 and le_hits > be_hits:
        return "UTF-16LE"
    if be_hits >= pairs * 0.9 and be_hits > le_hits:
        return "UTF-16BE"
    return None


# frequency-scored single-byte cyrillic detection. The reference's
# myencoding uses letter-frequency tables per candidate encoding; this is
# an equivalent scoring over the most frequent Russian/Ukrainian letters.
_CYR_COMMON = "оеаинтсрвлкмдпуяызбьгчйхжюшцщэфёіїєґ"
_CYR_CANDIDATES = ("WINDOWS-1251", "KOI8-R", "KOI8-U", "IBM866",
                   "ISO-8859-5", "X-MAC-CYRILLIC")


def detect_cyrillic(data: bytes) -> str | None:
    best = None
    best_score = 0
    sample = data[:8192]
    for name in _CYR_CANDIDATES:
        codec = ENCODINGS[name]
        try:
            text = sample.decode(codec)
        except (UnicodeDecodeError, LookupError):
            continue
        score = sum(1 for ch in text.lower() if ch in _CYR_COMMON)
        # prefer encodings where high-bit bytes decode to common letters
        if score > best_score:
            best_score = score
            best = name
    hi = len(sample.translate(None, _ASCII_BYTES))   # bytes >= 0x80
    if best is not None and hi > 0 and best_score >= max(4, hi // 4):
        return best
    return None


detect_russian = detect_cyrillic
detect_ukrainian = detect_cyrillic


def _detect(data: bytes) -> tuple[str | None, str | None]:
    """(:func:`detect`'s answer, the text of ``data`` when it is valid
    UTF-8 and the heuristic decoded it to find out, else None)."""
    enc = detect_unicode(data)
    if enc is not None:
        return enc, None
    try:
        text = data.decode("utf-8")
    except UnicodeDecodeError:
        return detect_cyrillic(data), None
    return (None if data[:8192].isascii() else "UTF-8"), text


def detect(data: bytes) -> str | None:
    """detectAuto-style content heuristic: unicode first, then cyrillic
    (reference DOM.xs:2953-2997)."""
    return _detect(data)[0]


def detect_auto(data: bytes) -> tuple[str | None, bytes]:
    enc, cut = detect_bom_and_cut(data)
    if enc is not None:
        return enc, cut
    return detect(data), data


# ---------------------------------------------------------------------------
# the full parse-time pipeline (utils.c:620-649)
# ---------------------------------------------------------------------------
def sniff_and_decode(
    data: bytes | str,
    encoding: str | None = None,
    default_encoding: str = "UTF-8",
    use_meta: bool = True,
    use_bom: bool = True,
    prescan_limit: int = PRESCAN_LIMIT,
) -> tuple[str, str]:
    """Resolve the encoding of raw page bytes and decode.

    Returns (canonical_encoding_name, decoded_text). Mirrors
    html5_dom_auto_encoding: explicit encoding wins; else meta prescan →
    BOM (cut) → heuristic → default.
    """
    if isinstance(data, str):
        return "UTF-8", data
    enc: str | None = None
    text = None   # the heuristic's UTF-8 decode, when it made one
    if encoding:
        enc = _LABELS.get(encoding.strip().lower(), encoding.strip().upper())
        if enc not in ENCODINGS:
            enc = None
    if enc is None and data:
        if use_meta:
            enc = detect_by_prescan_stream(data, prescan_limit)
        if enc is None and use_bom:
            enc, data = detect_bom_and_cut(data)
        if enc is None:
            enc, text = _detect(data)
    if enc is None:
        enc = default_encoding
    codec = ENCODINGS.get(enc, "utf-8")
    if text is not None and codec == "utf-8":
        return enc, text   # valid UTF-8: "replace" would change nothing
    return enc, data.decode(codec, "replace")
