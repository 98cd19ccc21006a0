"""Encoding detector family re-expressing /root/reference/t/0-api.t:1729-1777
and the parse round-trips of t/2-encodings.t."""

from perl_html5_dom_spark import HTML5DOM
from perl_html5_dom_spark.dom import encoding as enc

UTF16_SAMPLE = bytes.fromhex(
    "21044a0435044804 4c04200035044904 510420004d044204 380445042000"
    "3c044f0433043a04 380445042000".replace(" ", "")
)
CP1251_SAMPLE = (
    b"\xe5\xed\xe8\x20\xee\xe3\xee\x20\xf1\xf2\xe2\x20\xed\xe8\xff\x20"
    b"\xee\xe2\xe0\x20\xf2\xe5\xeb\x20\xf0\xe5\xe4\x20\xee\xf1\xf2"
) * 100


def test_name2id_roundtrip():
    i = enc.name2id("UTF-8")
    assert i is not None
    assert enc.id2name(i) == "UTF-8"
    assert enc.name2id("wefewf") is None
    assert enc.id2name(332322242424) is None


def test_detect_bom_and_cut():
    name, cut = enc.detect_bom_and_cut(b"\xef\xbb\xbftest214")
    assert name == "UTF-8"
    assert cut == b"test214"
    name, cut = enc.detect_bom_and_cut(b"\xff\xfea\x00")
    assert name == "UTF-16LE"


def test_detect_by_charset():
    assert enc.detect_by_charset("text/html; charset=windows-1251") == \
        "WINDOWS-1251"
    assert enc.detect_by_charset("text/html") is None


def test_detect_by_prescan_stream():
    assert enc.detect_by_prescan_stream(
        b'<meta http-equiv="content-type" '
        b'content="text/html; charset=windows-1251">') == "WINDOWS-1251"
    assert enc.detect_by_prescan_stream(b"<meta charset=koi8-r>") == "KOI8-R"
    assert enc.detect_by_prescan_stream(b"<p>no meta</p>") is None
    # prescan cap (reference default 1024, DOM.xs:434)
    far = b" " * 2000 + b"<meta charset=koi8-r>"
    assert enc.detect_by_prescan_stream(far) is None


def test_detect_unicode():
    assert enc.detect_unicode(UTF16_SAMPLE) == "UTF-16LE"
    assert enc.detect(UTF16_SAMPLE) == "UTF-16LE"


def test_detect_cyrillic():
    assert enc.detect_cyrillic(CP1251_SAMPLE) == "WINDOWS-1251"
    assert enc.detect_russian(CP1251_SAMPLE) == "WINDOWS-1251"
    assert enc.detect_ukrainian(CP1251_SAMPLE) == "WINDOWS-1251"
    assert enc.detect(CP1251_SAMPLE) == "WINDOWS-1251"


def test_parse_roundtrips():
    """t/2-encodings.t:11-35 — same text through different encodings."""
    text = "Привет мир"
    for name, codec in [("WINDOWS-1251", "cp1251"), ("KOI8-R", "koi8-r"),
                        ("KOI8-U", "koi8-u"), ("UTF-8", "utf-8")]:
        raw = ("<html><head><meta charset=%s></head><body>%s</body></html>"
               % (name, text)).encode(codec)
        tree = HTML5DOM().parse(raw)
        assert tree.encoding() == name
        assert tree.body().text() == text
    # explicit encoding option wins over content
    raw = ("<body>%s</body>" % text).encode("cp1251")
    tree = HTML5DOM(encoding="windows-1251").parse(raw)
    assert tree.body().text() == text
    # BOM
    raw = b"\xff\xfe" + ("<body>%s</body>" % text).encode("utf-16-le")
    tree = HTML5DOM().parse(raw)
    assert tree.encoding() == "UTF-16LE"
    assert tree.body().text() == text
    # heuristic (no meta, no BOM)
    raw = ("<body>%s</body>" % (text * 50)).encode("cp1251")
    tree = HTML5DOM().parse(raw)
    assert tree.encoding() == "WINDOWS-1251"
    assert text in tree.body().text()


def test_full_reference_label_coverage():
    """Every real encoding in the reference's supported list
    (lib/HTML5/DOM.pod:3142-3149; AUTO/NOT-DETERMINED are pseudo
    entries) resolves to a decodable codec."""
    reference_names = [
        "BIG5", "EUC-JP", "EUC-KR", "GB18030", "GBK", "IBM866",
        "MACINTOSH", "X-MAC-CYRILLIC", "SHIFT_JIS", "ISO-2022-JP",
        "ISO-8859-10", "ISO-8859-13", "ISO-8859-14", "ISO-8859-15",
        "ISO-8859-16", "ISO-8859-2", "ISO-8859-3", "ISO-8859-4",
        "ISO-8859-5", "ISO-8859-6", "ISO-8859-7", "ISO-8859-8",
        "ISO-8859-8-I", "WINDOWS-1250", "WINDOWS-1251", "WINDOWS-1252",
        "WINDOWS-1253", "WINDOWS-1254", "WINDOWS-1255", "WINDOWS-1256",
        "WINDOWS-1257", "WINDOWS-1258", "WINDOWS-874", "UTF-8",
        "UTF-16BE", "UTF-16LE", "KOI8-R", "KOI8-U", "X-USER-DEFINED",
    ]
    for name in reference_names:
        codec = enc.python_codec(name)
        assert codec is not None, name
        assert "ok".encode(codec).decode(codec) == "ok", name
        assert enc.name2id(name) is not None, name


def test_x_user_defined_codec():
    # WHATWG Encoding §14.5: 0x80-0xFF map to U+F780-F7FF, round-trip
    b = bytes(range(256))
    t = b.decode("x-user-defined")
    assert t.encode("x-user-defined") == b
    assert t[0x41] == "A"
    assert ord(t[0x80]) == 0xF780 and ord(t[0xFF]) == 0xF7FF
    # explicit-encoding decode path
    name, text = enc.sniff_and_decode(b"hi \x80", encoding="x-user-defined")
    assert name == "X-USER-DEFINED" and text == "hi "
    # but in a meta prescan the spec remaps it to windows-1252
    assert enc.detect_by_prescan_stream(
        b'<meta charset="x-user-defined">') == "WINDOWS-1252"


def test_whatwg_label_folds():
    # label aliases the reference accepts via myencoding_by_name
    assert enc.python_codec("tis-620") == "cp874"       # Thai family fold
    assert enc.python_codec("iso-8859-11") == "cp874"
    assert enc.python_codec("macintosh") == "mac-roman"
    assert enc.python_codec("csmacintosh") == "mac-roman"
    assert enc.python_codec("logical") == "iso8859-8"   # 8859-8-I
    assert enc.python_codec("visual") == "iso8859-8"
    assert enc.python_codec("iso-2022-jp") == "iso2022_jp"


# -- the byte-loop heuristics, kept as the reference for the C-speed ones --

def _loop_detect_unicode(data):
    if not data:
        return None
    n = min(len(data), 4096) & ~1
    pairs = n // 2
    if pairs < 4:
        return None
    le_hits = be_hits = 0
    for i in range(0, n, 2):
        if data[i + 1] <= 0x08:
            le_hits += 1
        if data[i] <= 0x08:
            be_hits += 1
    if le_hits >= pairs * 0.9 and le_hits > be_hits:
        return "UTF-16LE"
    if be_hits >= pairs * 0.9 and be_hits > le_hits:
        return "UTF-16BE"
    return None


def _loop_detect_cyrillic(data):
    best = None
    best_score = 0
    sample = data[:8192]
    for name in enc._CYR_CANDIDATES:
        try:
            text = sample.decode(enc.ENCODINGS[name])
        except (UnicodeDecodeError, LookupError):
            continue
        score = sum(1 for ch in text.lower() if ch in enc._CYR_COMMON)
        if score > best_score:
            best_score = score
            best = name
    hi = sum(1 for b in sample if b >= 0x80)
    if best is not None and hi > 0 and best_score >= max(4, hi // 4):
        return best
    return None


def _loop_detect(data):
    found = _loop_detect_unicode(data)
    if found is not None:
        return found
    try:
        data.decode("utf-8")
    except UnicodeDecodeError:
        return _loop_detect_cyrillic(data)
    if any(b >= 0x80 for b in data[:8192]):
        return "UTF-8"
    return None


def _heuristic_inputs():
    import random

    rng = random.Random(20261017)
    text = ("Съешь же ещё этих мягких французских булок, да выпей чаю. "
            "<p>mixed ascii</p> ") * 40
    html = f"<html><body><p>{text}</p></body></html>"
    out = [b"", b"a", b"\x00" * 7, UTF16_SAMPLE, CP1251_SAMPLE]
    for codec in ("cp1251", "koi8-r", "utf-16-le", "utf-16-be", "utf-8"):
        data = html.encode(codec)
        # whole, odd-length cut, past the 4096/8192 windows, tiny
        out += [data, data[:4097], data[:8193], data[:9], data[1:]]
    for _ in range(500):
        n = rng.choice((0, 1, 7, 8, 9, 64, 1000, 4095, 4096, 4097, 9000))
        kind = rng.randrange(4)
        if kind == 0:      # uniform random bytes
            data = bytes(rng.randrange(256) for _ in range(n))
        elif kind == 1:    # ascii with a sprinkling of high bytes
            data = bytes(rng.randrange(0x20, 0x7f) if rng.random() < 0.97
                         else rng.randrange(0x80, 0x100) for _ in range(n))
        elif kind == 2:    # utf-16-like: small bytes on one side
            side = rng.randrange(2)
            data = bytes(rng.randrange(0, 0x0b) if (i % 2) == side
                         else rng.randrange(256) for i in range(n))
        else:              # random cyrillic text in a random codec
            s = "".join(rng.choice("абвгдеёжзийклмнопрстуфхцчшщъыьэюя <>p")
                        for _ in range(n // 2))
            data = s.encode(rng.choice(("cp1251", "koi8-r", "utf-8",
                                        "cp866", "iso8859-5")))
        out.append(data)
    return out


def test_heuristics_match_byte_loops(monkeypatch):
    inputs = _heuristic_inputs()
    for data in inputs:
        assert enc.detect_unicode(data) == _loop_detect_unicode(data)
        assert enc.detect_cyrillic(data) == _loop_detect_cyrillic(data)
        assert enc.detect(data) == _loop_detect(data)
    fast = [enc.sniff_and_decode(d) for d in inputs]
    # the loop heuristic hands back no text: every input decoded anew
    monkeypatch.setattr(enc, "_detect", lambda d: (_loop_detect(d), None))
    assert [enc.sniff_and_decode(d) for d in inputs] == fast


def test_sniff_and_decode_keeps_the_heuristic_utf8_text():
    # the heuristic's strict UTF-8 decode is returned only where the
    # resolved codec is UTF-8; every other case decodes with its codec
    late = b"a" * 9000 + "\u00e9\u0436".encode()   # non-ASCII past 8 KiB
    early = "\u00e9\u0436 ".encode() * 100
    ascii_ = b"<p>plain ascii</p>" * 10
    cases = [
        (late, "UTF-8", ("UTF-8", late.decode())),
        (late, "WINDOWS-1252", ("WINDOWS-1252", late.decode("cp1252"))),
        (early, "WINDOWS-1252", ("UTF-8", early.decode())),
        (CP1251_SAMPLE, "UTF-8",
         ("WINDOWS-1251", CP1251_SAMPLE.decode("cp1251"))),
        (ascii_, "UTF-8", ("UTF-8", ascii_.decode())),
        (ascii_, "WINDOWS-1252", ("WINDOWS-1252", ascii_.decode())),
        (b"", "WINDOWS-1252", ("WINDOWS-1252", "")),
    ]
    for data, default, want in cases:
        assert enc.sniff_and_decode(data, default_encoding=default) \
            == want, (data[:20], default)
