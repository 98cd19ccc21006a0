"""Long-haul fuzz campaign (the between-rounds bug hunt).

Random tag soup from the full engine alphabet — formatting tags,
table/select/template vocabulary, foreign content, entities, quirks
doctypes, attribute junk — checked per document:

  1. serialize -> reparse -> serialize fixpoint (idempotence)
  2. chunked parse at a random split == whole-string parse
  3. inner_text / text_content never crash

``pdf`` mode is a differential run of ``extract_pdf_text`` against
another checkout (say, the parent commit): generated PDFs (the corpus
generator, random content streams and page dictionaries from
``tests/pdf_cases.py``) go through one to three of that module's
mutations, and each document must give the same pages and text, or the
same exception type and message, on both sides.  Every document runs
under a wall-clock bound, so a hang is a finding too.  Inputs on which
only the other side runs out of Python stack (``RecursionError``) are
counted apart: the explicit-stack lexer parses them.

``extract`` mode is the same kind of differential run for the HTML
extraction kernel and the serializer: each tag soup goes through both
checkouts' ``extract_one`` (every field, ``a[href]`` spans),
``inner_text`` of the document node, ``serialize`` of the document node,
the body's inner ``serialize`` and its ``text_content``, and must give
the same values, or the same exception type and message, under the
same per-document bound.

``query`` mode is the differential run for the DOM query layer: each
tag soup is parsed through both checkouts' public API, and a seeded
plan of queries runs on both: ``find``/``at`` (random selectors and
root combinators) and ``findTag``/``findClass``/``findId``/``findAttr``
(every comparator, with and without ``icase``, and their aliases), each
scoped at the Tree and at its elements, plus the document's
``(order, pos, end)`` pre-order triple.  Facade mutations (append,
before, remove, innerHTML, tag rename, create, clone, text) interleave
with the queries.  Every step must give the same node ids and facade
classes, or the same exception type and message, on both sides.

Multiprocess over all cores with distinct seeds; failures are saved to
/tmp/fuzz_failures/ for triage.  Usage:

  python tools/fuzz_campaign.py [seconds] [workers]
  python tools/fuzz_campaign.py pdf <other checkout> [seconds] [workers]
  python tools/fuzz_campaign.py extract <other checkout> [seconds] [workers]
  python tools/fuzz_campaign.py query <other checkout> [seconds] [workers]
"""

from __future__ import annotations

import os
import random
import sys
import time

_TAGS = (
    "div p span ul li b i a h1 h2 br table td form pre em strong section "
    "dd dt dl hr img footer blockquote select option optgroup input "
    "template menuitem button textarea marquee object applet "
    "nobr small big tt u s strike font code "
    "tr th tbody thead tfoot caption colgroup "
    "svg math mi mtext annotation-xml foreignObject desc circle g "
    "plaintext xmp listing noscript noframes frameset frame ruby rb rt rp "
    "h3 h4 h5 h6 summary details figure figcaption iframe "
    "search dialog slot main image col"
).split()

_HEADS = [
    "<!DOCTYPE html><html><head></head><body>",
    "<!DOCTYPE html><html><head><title>t</title></head><body>",
    "<html><head></head><body>",
    "<!-- lead --><!DOCTYPE html><body>",
    "",
    "<!DOCTYPE html>",
    "<body>",
    "<!DOCTYPE html PUBLIC \"-//W3C//DTD HTML 4.01 Transitional//EN\"><p>",
    "<!DOCTYPE><table>",
    "</div><!-- stray -->",
]

_TEXT_ALPHA = "ab <>&;x\n\t\xa0&amp&notit;&#65;&#x80;\x00yz\"'="

_SNIPPETS = [
    "<!-- c -->", "<script>x<y</script>", "<style>.c{}</style>",
    "<![CDATA[z]]>", "<?pi?>", "<!-->", "</ p>", "&notin;", "&AMP",
    "<textarea>\na</textarea>", "<pre>\nb</pre>",
    # round-5 DAT17-29 territory: script-data escape permutations,
    # CDATA bracket edges, appropriate-end-tag forms, weird attribute
    # names, multi-codepoint named refs, breakout/namespace dispatch
    "<script><!--<script></script>-->x</script>",
    "<script><!--<script>--></script>",
    "<svg><![CDATA[a]]b]]></svg>",
    "<title>x</titlex></title>",
    "<script>a</script foo=bar>",
    "<style>a</ style></style>",
    "<p =x>", "<p <p>", '<p a"b=c>', "<p a='b'c=d>", "<p/ a=b>",
    "&NotEqualTilde;&fjlig;&ThickSpace;&ngE;&xyzzy;",
    "<svg><html a=b>", "<svg><body a=b>", "<math><svg>",
    "<!----->", "<!-- a -- b -->",
    "<select><select>", "<table><form>x</form></table>",
    # column combinator ground: col/colgroup spans over a cell grid
    "<table><colgroup><col span=2><col></colgroup><tr><td>1<td colspan=2>2"
    "<tr><td rowspan=2>3<td>4</table>",
]

_TAILS = ["", "</body></html>", "</body>", "</html>", "<!-- t -->", "</td>"]


def gen_doc(rng: random.Random) -> str:
    parts = [rng.choice(_HEADS)]
    for _ in range(rng.randint(0, 16)):
        kind = rng.randint(0, 6)
        t = rng.choice(_TAGS)
        if kind == 0:
            parts.append(f"<{t}>")
        elif kind == 1:
            parts.append(f"</{t}>")
        elif kind == 2:
            n = rng.randint(0, 12)
            parts.append("".join(rng.choice(_TEXT_ALPHA) for _ in range(n)))
        elif kind == 3:
            parts.append(rng.choice(_SNIPPETS))
        elif kind == 4:
            parts.append(
                f'<{t} class="c d" id=\'{rng.randint(0, 9)}\' '
                f'title="a{rng.choice(["&not;", "&noti;", "&ampx", ""])}b">')
        elif kind == 5:
            parts.append(f"<{t}/>")
        else:
            # the tokenizer's common shape: double-quoted values (with
            # references) after mixed-case and hyphenated names
            parts.append(
                f'<{rng.choice((t, t.upper()))} Data-X="'
                f'{rng.choice(["&amp;", "&lt=", "&notit;", "&not", "x"])}"'
                f' title="{rng.choice(_TEXT_ALPHA)}"{rng.choice(["", "/"])}>')
    parts.append(rng.choice(_TAILS))
    return "".join(parts)


def _setup_paths() -> None:
    """Once per worker process, not per document (ADVICE r4: the old
    per-document inserts grew sys.path unboundedly over a campaign)."""
    for p in (".", "tests"):
        if p not in sys.path:
            sys.path.insert(0, p)


def check_one(src: str) -> str | None:
    """Return a failure label or None."""
    _setup_paths()
    from perl_html5_dom_spark.dom.chunked import ChunkedParser
    from perl_html5_dom_spark.dom.innertext import inner_text
    from perl_html5_dom_spark.dom.serializer import serialize, text_content
    from perl_html5_dom_spark.dom.treebuilder import TreeBuilder

    from parse_cases import project

    full = TreeBuilder().parse(src)
    # spec-inherent lossy corners are exempt from the fixpoint check
    # (tests/test_serialization.py::test_serialize_known_lossy_corners):
    #  - plaintext has no close tag (anything after re-parses as text)
    #  - foster-parented content serializes ahead of its table
    #  - a form nested inside a form re-parses via the form-pointer rule
    #  - misnested formatting (AAA ran / AFE reconstruction) re-opens
    #    differently once explicit close tags exist in the serialization
    has_plaintext = any(
        t == "plaintext" and full.node_type[i] == 1
        for i, t in enumerate(full.tag))
    def _nested_form():
        forms = [i for i, t in enumerate(full.tag)
                 if t == "form" and full.node_type[i] == 1]
        fs = set(forms)
        for i in forms:
            p = full.parent[i]
            while p not in (-1, None) and p >= 0:
                if p in fs:
                    return True
                p = full.parent[p]
        return False
    if not has_plaintext and not full.fostered \
            and not full.misnested and not _nested_form():
        s1 = serialize(full, full.root)
        d2 = TreeBuilder().parse(s1)
        if s1 != serialize(d2, d2.root):
            return "serialize-fixpoint"
    if len(src) > 1:
        # content-derived split point: varies per doc, reproducible —
        # crc32, NOT hash() (which is salted per interpreter by
        # PYTHONHASHSEED, so a saved failure wouldn't replay its
        # failing split at triage; ADVICE r4)
        import zlib
        cut = 1 + (zlib.crc32(src.encode()) % (len(src) - 1))
        cp = ChunkedParser()
        cp.parse_chunk(src[:cut])
        cp.parse_chunk(src[cut:])
        if project(cp.end()) != project(full):
            return "chunked"
    inner_text(full, full.root)
    text_content(full, full.root)
    return None


def worker(seed: int, seconds: float, out_dir: str) -> tuple[int, int]:
    rng = random.Random(seed)
    t_end = time.time() + seconds
    n = fails = 0
    while time.time() < t_end:
        src = gen_doc(rng)
        try:
            label = check_one(src)
        except Exception as e:  # crash = failure too
            label = f"crash-{type(e).__name__}"
        if label:
            fails += 1
            with open(f"{out_dir}/{label}-{seed}-{n}.html", "w") as f:
                f.write(src)
        n += 1
    return n, fails


#: wall-clock bound per document and side in the differential modes
BOUND_S = 2.0


class _Hang(BaseException):
    """Raised by the alarm; not an ``Exception``, so an outcome function
    lets it through instead of recording it as the document's error."""


def _bounded(outcome) -> list:
    """``outcome()``, or ``["hang"]`` when it takes longer than
    ``BOUND_S``."""
    import signal

    def alarm(signum, frame):
        raise _Hang

    old = signal.signal(signal.SIGALRM, alarm)
    signal.setitimer(signal.ITIMER_REAL, BOUND_S)
    try:
        return outcome()
    except _Hang:
        return ["hang"]
    finally:
        signal.setitimer(signal.ITIMER_REAL, 0)
        signal.signal(signal.SIGALRM, old)


def gen_pdf(rng: random.Random) -> bytes:
    """A generated PDF after one to three seeded mutations."""
    import pdf_cases
    from test_pdf import build_pdf, one_page

    from perl_html5_dom_spark.sources.pdfs import pdf_bytes

    kind = rng.randrange(3)
    if kind == 0:
        doc_id = rng.randrange(10_000)
        data = pdf_bytes(doc_id, pdf_cases.corpus_text(doc_id))
    else:
        objs = one_page(pdf_cases.random_content(rng))
        if kind == 2:
            objs[3] = pdf_cases.random_page_dict(rng)
        data = build_pdf(objs)
    for _ in range(rng.randint(1, 3)):
        data = pdf_cases.mutate(rng, data)[1]
    return data


def pdf_worker(seed: int, seconds: float, out_dir: str,
               other: str) -> tuple[int, int, int]:
    """(documents, findings, inputs only the other side's stack ran out
    on) for one seed."""
    import importlib.util

    _setup_paths()
    from pdf_cases import outcome

    from perl_html5_dom_spark.dom.pdf import extract_pdf_text

    spec = importlib.util.spec_from_file_location(
        "other_pdf", os.path.join(other, "perl_html5_dom_spark/dom/pdf.py"))
    theirs = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(theirs)
    rng = random.Random(seed)
    t_end = time.time() + seconds
    n = fails = recursion = 0
    while time.time() < t_end:
        data = gen_pdf(rng)
        ours = _bounded(lambda: outcome(data, extract_pdf_text))
        other_out = _bounded(lambda: outcome(data, theirs.extract_pdf_text))
        if ours != other_out:
            if other_out[:2] == ["err", "RecursionError"] and \
                    ours[0] != "hang":
                recursion += 1
            else:
                fails += 1
                label = "hang" if "hang" in (ours[0], other_out[0]) \
                    else "diff"
                with open(f"{out_dir}/pdf-{label}-{seed}-{n}.pdf", "wb") as f:
                    f.write(data)
        n += 1
    return n, fails, recursion


def _package(root: str, name: str):
    """The ``perl_html5_dom_spark`` package of checkout ``root``, imported
    as ``name`` (its modules import each other relatively)."""
    import importlib.util

    if name not in sys.modules:
        pkg = os.path.join(root, "perl_html5_dom_spark")
        spec = importlib.util.spec_from_file_location(
            name, os.path.join(pkg, "__init__.py"),
            submodule_search_locations=[pkg])
        sys.modules[name] = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(sys.modules[name])
    return name


def _extract_outcome(pkg: str, src: str) -> list:
    """``["ok", extract_one row, inner_text of the document node,
    serialize of the document node, the body's inner serialize and
    text_content]`` of package ``pkg`` on ``src``, or ``["err", type,
    message]``."""
    import importlib

    extract = importlib.import_module(pkg + ".operators.extract")
    fastparse = importlib.import_module(pkg + ".dom.fastparse")
    innertext = importlib.import_module(pkg + ".dom.innertext")
    serializer = importlib.import_module(pkg + ".dom.serializer")
    matcher = importlib.import_module(pkg + ".selector.matcher")
    try:
        row = extract.extract_one(src, matcher.compile_selector("a[href]"))
        doc = fastparse.parse_document(src)
        body = doc.body_node if doc.body_node != -1 else doc.root
        return ["ok", row, innertext.inner_text(doc, doc.root),
                serializer.serialize(doc, doc.root),
                serializer.serialize(doc, body, inner=True),
                serializer.text_content(doc, body)]
    except Exception as e:
        return ["err", type(e).__name__, str(e)]


def extract_worker(seed: int, seconds: float, out_dir: str,
                   other: str) -> tuple[int, int]:
    """(documents, findings) of the extraction kernel against the one of
    checkout ``other``, for one seed."""
    _setup_paths()
    theirs = _package(other, "other_perl_html5_dom_spark")
    rng = random.Random(seed)
    t_end = time.time() + seconds
    n = fails = 0
    while time.time() < t_end:
        src = gen_doc(rng)
        ours = _bounded(lambda: _extract_outcome("perl_html5_dom_spark", src))
        other_out = _bounded(lambda: _extract_outcome(theirs, src))
        if ours != other_out:
            fails += 1
            label = "hang" if "hang" in (ours[0], other_out[0]) else "diff"
            with open(f"{out_dir}/extract-{label}-{seed}-{n}.html", "w") as f:
                f.write(src)
        n += 1
    return n, fails


#: query-mode vocabulary besides the document's own: names, classes,
#: ids, attribute keys and values in other cases, and some that match
#: nothing
_Q_TAGS = ("body", "BODY", "div", "DIV", "Td", "col", "colgroup",
           "foreignObject", "foreignobject")
_Q_NAMES = _Q_TAGS + ("*", "", "x")
_Q_CLASSES = ("c", "C", "c d", "", "x")
_Q_IDS = ("3", "", "x")
_Q_KEYS = ("class", "id", "title", "Data-X", "ID", "href")
_Q_VALUES = (None, "c", "C", "c d", "a", "b", "X", "&", "-", "")
_Q_CMPS = ("=", "~", "|", "*", "^", "$", "!")
_Q_SIMPLES = ("*", ".c", ".d", "#3", "[title]", "[data-x^=x]",
              "[title$=b i]", "[class~=c]", ":first-child", ":last-of-type",
              ":nth-child(2n+1)", ":not(.c)", ":has(> b)", ":empty",
              ":contains(a)", ":root", ":scope")
_Q_COMBINATORS = (" ", " > ", " + ", " ~ ", " || ", ", ")
_Q_ROOTS = (">>", ">>", ">>", ">", "+", "~", "^", "||", "nonsense")
_Q_SNIPPETS = ("<b>x</b>", "<td>c</td><col>", "<p class=c id=3>p</p>",
               "a<br>b", "", "<table><col span=2><tr><td>1<td>2</table>")


def gen_query_plan(rng: random.Random, src: str) -> list:
    """Steps for ``_query_outcome``: queries (scope ``None`` is the Tree,
    an int ``i`` the ``i``-th element, modulo their count),
    mutations (an int ``i`` is node id ``i`` modulo the document's size)
    and ``("order",)``.  Most names, classes, ids and attributes come
    from ``src``'s own elements, so most queries match something."""
    from perl_html5_dom_spark.dom.treebuilder import TreeBuilder

    doc = TreeBuilder().parse(src)
    els = [n for n in range(len(doc)) if doc.node_type[n] == 1]
    names = [doc.tag[n] for n in els]
    attrs = [kv for n in els for kv in (doc.attrs[n] or {}).items()]
    classes = [c for k, v in attrs if k == "class" for c in v.split()]
    ids = [v for k, v in attrs if k == "id"]

    def pick(own, other):
        return rng.choice(own if own and rng.random() < 0.7 else other)

    def selector():
        parts = []
        for i in range(rng.choice((1, 1, 1, 2, 3))):
            if i:
                parts.append(rng.choice(_Q_COMBINATORS))
            parts.append(pick(names, _Q_TAGS + ("",)) + "".join(
                rng.choice(_Q_SIMPLES) for _ in range(rng.choice((0, 0, 1)))))
        return "".join(parts) or "*"

    steps = [("order",)]
    for _ in range(rng.randint(1, 4)):
        for _ in range(rng.randint(4, 12)):
            scope = None if rng.random() < 0.4 else rng.randrange(64)
            kind = rng.randrange(6)
            if kind == 0:
                q = (rng.choice(("find", "querySelectorAll")), selector(),
                     rng.choice(_Q_ROOTS))
            elif kind == 1:
                q = (rng.choice(("at", "querySelector")), selector(),
                     rng.choice(_Q_ROOTS))
            elif kind == 2:
                name = pick(names, _Q_NAMES)
                q = (rng.choice(("findTag", "getElementsByTagName")),
                     name.upper() if rng.random() < 0.2 else name)
            elif kind == 3:
                q = (rng.choice(("findClass", "getElementsByClassName")),
                     pick(classes, _Q_CLASSES))
            elif kind == 4:
                q = (rng.choice(("findId", "getElementById")),
                     pick(ids, _Q_IDS))
            else:
                key, value = pick(attrs, [(k, None) for k in _Q_KEYS])
                if value is None or rng.random() < 0.3:
                    value = rng.choice(_Q_VALUES)
                elif rng.random() < 0.5:
                    # a piece of the value, for the partial comparators
                    a = rng.randrange(len(value) + 1)
                    value = value[a:rng.randrange(a, len(value) + 1)]
                q = (rng.choice(("findAttr", "getElementByAttribute")),
                     key.upper() if rng.random() < 0.2 else key, value,
                     rng.random() < 0.5, rng.choice(_Q_CMPS))
            steps.append(("query", scope) + q)
        steps.append(("order",))
        op = rng.choice(("append", "before", "remove", "inner", "tag",
                         "create", "clone", "text"))
        steps.append(("mutate", op, rng.randrange(64), rng.randrange(64),
                      pick(names, _Q_TAGS), rng.choice(_Q_SNIPPETS)))
        steps.append(("order",))
    return steps


def _q_value(v):
    """A query result as plain values: facade class and node id."""
    if v is None:
        return None
    if hasattr(v, "items"):
        return [(type(n).__name__, n.nid) for n in v.items]
    return (type(v).__name__, v.nid)


def _query_outcome(pkg: str, src: str, plan: list) -> list:
    """One entry per step of ``plan`` on ``src`` parsed by package
    ``pkg``'s ``HTML5DOM``: a query's result, the pre-order triple, or
    ``["err", type, message]`` for a step that raised."""
    import importlib

    api = importlib.import_module(pkg + ".api")
    tree = api.HTML5DOM().parse(src)
    doc = tree.doc

    def node(i):
        return api._wrap(tree, i % len(doc))

    def scope(i):
        els = [n for n in range(len(doc)) if doc.node_type[n] == 1]
        return api._wrap(tree, els[i % len(els)] if els else doc.root)

    def step(s):
        if s[0] == "order":
            if hasattr(doc, "preorder"):
                return doc.preorder()
            return doc.order, doc.order_pos, doc.subtree_end
        if s[0] == "query":
            target = tree if s[1] is None else scope(s[1])
            return _q_value(getattr(target, s[2])(*s[3:]))
        _, op, i, j, name, snippet = s
        a, b = node(i), node(j)
        if op == "append":
            a.append(b)
        elif op == "before":
            a.before(b)
        elif op == "remove":
            a.remove()
        elif op == "inner":
            a.innerHTML(snippet)
        elif op == "tag":
            a.tag(name)
        elif op == "create":
            a.append(tree.createElement(name))
        elif op == "clone":
            b.append(a.clone(deep=True))
        else:
            a.text(snippet)
        return "ok"

    out = []
    for s in plan:
        try:
            out.append(step(s))
        except Exception as e:
            out.append(["err", type(e).__name__, str(e)])
    return out


def query_worker(seed: int, seconds: float, out_dir: str,
                 other: str) -> tuple[int, int]:
    """(documents, findings) of the DOM query layer against the one of
    checkout ``other``, for one seed."""
    _setup_paths()
    theirs = _package(other, "other_perl_html5_dom_spark")
    rng = random.Random(seed)
    t_end = time.time() + seconds
    n = fails = 0
    while time.time() < t_end:
        src = gen_doc(rng)
        plan = gen_query_plan(rng, src)
        ours = _bounded(
            lambda: _query_outcome("perl_html5_dom_spark", src, plan))
        other_out = _bounded(lambda: _query_outcome(theirs, src, plan))
        if ours != other_out:
            fails += 1
            label = "hang" if "hang" in (ours[0], other_out[0]) else "diff"
            with open(f"{out_dir}/query-{label}-{seed}-{n}.html", "w") as f:
                f.write(f"<!-- plan: {plan!r} -->\n{src}")
        n += 1
    return n, fails


_MODES = {"pdf": pdf_worker, "extract": extract_worker,
          "query": query_worker}


def main() -> None:
    args = sys.argv[1:]
    mode = args[0] if args and args[0] in _MODES else None
    if mode:
        other, args = os.path.abspath(args[1]), args[2:]
    seconds = float(args[0]) if args else 300
    workers = int(args[1]) if len(args) > 1 else (os.cpu_count() or 4)
    out_dir = "/tmp/fuzz_failures"
    os.makedirs(out_dir, exist_ok=True)
    import multiprocessing as mp

    base = int(time.time())
    with mp.Pool(workers) as pool:
        if mode:
            res = pool.starmap(_MODES[mode], [(base + i, seconds, out_dir, other)
                                    for i in range(workers)])
        else:
            res = pool.starmap(
                worker, [(base + i, seconds, out_dir) for i in range(workers)])
    total = sum(r[0] for r in res)
    fails = sum(r[1] for r in res)
    extra = (f", {sum(r[2] for r in res)} only the other side's stack ran "
             f"out on" if mode == "pdf" else "")
    print(f"campaign: {total} docs, {fails} failures{extra} "
          f"({workers} workers x {seconds:.0f}s); failures in {out_dir}")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
