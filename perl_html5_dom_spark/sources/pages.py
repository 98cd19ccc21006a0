"""Deterministic synthetic Common-Crawl-style page corpus.

``BASELINE.json input_hint`` requires an input table of shape
``pages(url string, warc_ts timestamp, html binary, text string, lang
string)``.  No external data is allowed, so the corpus is synthesised
deterministically from the driver-provided ``documents`` parquet table
(``doc_id, text, lang, source, n_chars``): each document becomes one web
page whose HTML is built from a fixed template parameterised only by
``(doc_id, text, lang)``.

The template is emitted as a *SQL expression* in two dialects — Spark SQL
and DuckDB — from the same builder, so the driver's DuckDB oracle can
regenerate byte-identical HTML and derive expected extraction results
independently of our parser.  This is the analog of the reference's golden
fixtures (/root/reference/t/0-api.t): the expected output is computable
without running the engine under test.

Template structure (per page):

    <!DOCTYPE html><html lang=L><head><meta charset=utf-8>
      <title>Doc {id}</title></head>
    <body>
      <header.site-header><nav><a href=/>Home</a> <a href=/about>About</a></nav></header>
      <main><article #a{id} .post.content>
          <h1>Doc {id}</h1><p>{text}</p>
          {id % 5 copies of <a.ref href=https://example.org/{id}>ref</a>}
      </article></main>
      <aside.sidebar.widget><ul>{id % 3 + 1 copies of <li.rel>item</li>}</ul></aside>
      <footer.site-footer><p>(c) example.org</p></footer>
    </body></html>

so structural query answers are pure arithmetic over ``doc_id`` and the
main-content extraction answer is exactly ``text``.

Scale note: ``replicate`` fans each document out to R urls (distinct url
suffix, same body) so benchmarks can scale the corpus without external
data; at 100 TB the same pipeline reads a real Iceberg ``pages`` table and
every downstream operator is unchanged.
"""

from __future__ import annotations
from ..util import map_documents, sql_over

SPARK = "spark"
DUCK = "duck"

#: tables the driver pre-registers as DuckDB views; in Spark we read the
#: same parquet files from the sf dir.
DOCUMENTS = "documents"


def cast_str(x: str, dialect: str) -> str:
    t = "string" if dialect == SPARK else "varchar"
    return f"cast({x} as {t})"


def html_expr(dialect: str, id_col: str = "doc_id", text_col: str = "text",
              lang_col: str = "lang") -> str:
    """HTML template as a SQL string expression (identical output in both
    dialects for the same row)."""
    i = cast_str(id_col, dialect)
    return (
        f"'<!DOCTYPE html><html lang=\"' || {lang_col} || '\"><head>"
        f"<meta charset=\"utf-8\"><title>Doc ' || {i} || '</title></head><body>"
        f"<header class=\"site-header\"><nav><a href=\"/\">Home</a> "
        f"<a href=\"/about\">About</a></nav></header>"
        f"<main><article id=\"a' || {i} || '\" class=\"post content\">"
        f"<h1>Doc ' || {i} || '</h1><p>' || {text_col} || '</p>' || "
        f"repeat('<a class=\"ref\" href=\"https://example.org/' || {i} || '\">ref</a>', "
        f"{id_col} % 5) || '</article></main>"
        f"<aside class=\"sidebar widget\"><ul>' || "
        f"repeat('<li class=\"rel\">item</li>', {id_col} % 3 + 1) || '</ul></aside>"
        f"<footer class=\"site-footer\"><p>(c) example.org</p></footer>"
        f"</body></html>'"
    )


def url_expr(dialect: str, id_col: str = "doc_id", rep_col: str | None = None) -> str:
    i = cast_str(id_col, dialect)
    base = f"'https://example.org/doc/' || {i}"
    if rep_col is not None:
        return f"{base} || '/' || {cast_str(rep_col, dialect)}"
    return base


def pages_select_sql(dialect: str, docs_rel: str, replicate: int = 1) -> str:
    """SELECT producing the canonical pages relation
    ``(doc_id, url, html_str, text, lang)`` in either dialect.

    ``html`` binary is utf-8 bytes of ``html_str`` (encoding variants are
    produced kernel-side; see operators/extract.py).
    """
    if replicate <= 1:
        u = url_expr(dialect)
        return (
            f"select doc_id, {u} as url, {html_expr(dialect)} as html_str, "
            f"text, lang from {docs_rel}"
        )
    u = url_expr(dialect, rep_col="r")
    if dialect == SPARK:
        reps = (f"select doc_id, text, lang, explode(sequence(0, {replicate - 1})) as r "
                f"from {docs_rel}")
    else:
        reps = (f"select doc_id, text, lang, unnest(generate_series(0, {replicate - 1})) as r "
                f"from {docs_rel}")
    return (
        f"select doc_id, r, {u} as url, {html_expr(dialect)} as html_str, "
        f"text, lang from ({reps})"
    )


def read_docs(spark, sf_dir: str, partitions: int | None = None):
    """documents.parquet, repartitioned on doc_id BEFORE the html
    template fan-out.  The driver's parquet files are written as a
    single row group, so a direct scan is ONE Spark partition — every
    downstream parse kernel would run on one core.  The rows are narrow
    (~300 B), so this shuffle is noise next to the parse cost; at 100 TB
    it is the salted url-hash repartition of the Iceberg scan."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = partitions or spark.sparkContext.defaultParallelism
    return docs.repartition(n, "doc_id")


def pages_df(spark, sf_dir: str, replicate: int = 1, partitions: int | None = None):
    """Spark DataFrame of pages: (doc_id, url, warc_ts, html binary, text, lang).

    ``html`` is a real binary column (utf-8 bytes) as per input_hint; at
    scale this is the Iceberg ``pages`` table scan instead.
    """
    docs = read_docs(spark, sf_dir, partitions)
    df = sql_over(lambda v: pages_select_sql(SPARK, v, replicate), docs)
    return df.selectExpr(
        "doc_id",
        "url",
        "timestamp'2025-01-01 00:00:00' + make_interval(0,0,0,0,0,0,doc_id) as warc_ts",
        "encode(html_str, 'utf-8') as html",
        "text",
        "lang",
    )


def pages_cte(docs_rel: str = DOCUMENTS, replicate: int = 1) -> str:
    """DuckDB CTE body regenerating the same pages relation for oracles."""
    return pages_select_sql(DUCK, docs_rel, replicate)


# ---------------------------------------------------------------------------
# Hostile page family — parser-adversarial constructs with a DOM that is
# still arithmetic-derivable, so DuckDB oracles can check the FULL
# insertion-mode machine (adoption agency, foster parenting, implied end
# tags, tbody synthesis, foreign content) without running our parser.
#
# Per page (k = doc_id % 4 + 2):
#   <!DOCTYPE html><html><head></head><body>
#     <p>intro {text}                       -- unclosed <p>, closed by <div>
#     <div><b>bold<i>doc {id}</b>italic</i></div>
#                                           -- misnesting: adoption agency
#     <ul>{k x '<li>item'}</ul>             -- unclosed <li> chain
#     <table>f{id}<tr><td>cell {id}</table> -- text fostered before table,
#                                           -- implied <tbody>, unclosed td/tr
#     <svg><title>hidden</title><circle/></svg>
#                                           -- foreign content island
#     <p>tail                               -- unclosed, closed by </body>
#
# Spec tree (WHATWG 13.2.6; adoption agency produces
# <b>bold<i>doc N</i></b><i>italic</i> — the html5lib adoption01 shape the
# reference passes, lib/HTML5/DOM.pod:3333):
#   doctype, html, head, body,
#   p["intro " text], div[b["bold", i["doc N"]], i["italic"]],
#   ul[k x li["item"]], text "fN", table[tbody[tr[td["cell N"]]]],
#   svg[title["hidden"], circle/], p["tail"]
# => n_nodes = 27 + 2k (incl. document node), n_elements = 17 + k.
# ---------------------------------------------------------------------------


def hostile_html_expr(dialect: str, id_col: str = "doc_id",
                      text_col: str = "text") -> str:
    """Hostile-template HTML as a SQL string expression (both dialects)."""
    i = cast_str(id_col, dialect)
    return (
        f"'<!DOCTYPE html><html><head></head><body>"
        f"<p>intro ' || {text_col} || '"
        f"<div><b>bold<i>doc ' || {i} || '</b>italic</i></div>"
        f"<ul>' || repeat('<li>item', {id_col} % 4 + 2) || '</ul>"
        f"<table>f' || {i} || '<tr><td>cell ' || {i} || '</table>"
        f"<svg><title>hidden</title><circle/></svg>"
        f"<p>tail</body></html>'"
    )


def hostile_serialized_expr(dialect: str, id_col: str = "doc_id",
                            text_col: str = "text") -> str:
    """The spec-conformant serialization of the hostile template — the
    oracle for serialize(parse(html)) pinning the whole tree shape."""
    i = cast_str(id_col, dialect)
    return (
        f"'<!DOCTYPE html><html><head></head><body>"
        f"<p>intro ' || {text_col} || '</p>"
        f"<div><b>bold<i>doc ' || {i} || '</i></b><i>italic</i></div>"
        f"<ul>' || repeat('<li>item</li>', {id_col} % 4 + 2) || '</ul>"
        f"f' || {i} || '"
        f"<table><tbody><tr><td>cell ' || {i} || '</td></tr></tbody></table>"
        f"<svg><title>hidden</title><circle /></svg>"
        f"<p>tail</p></body></html>'"
    )


def hostile_url_expr(dialect: str, id_col: str = "doc_id") -> str:
    return f"'https://example.org/hostile/' || {cast_str(id_col, dialect)}"


def hostile_select_sql(dialect: str, docs_rel: str) -> str:
    return (
        f"select doc_id, {hostile_url_expr(dialect)} as url, "
        f"{hostile_html_expr(dialect)} as html_str, text from {docs_rel}"
    )


def hostile_pages_df(spark, sf_dir: str):
    """Spark DataFrame (doc_id, url, html binary, text) of hostile pages."""
    docs = read_docs(spark, sf_dir)
    df = sql_over(lambda v: hostile_select_sql(SPARK, v), docs)
    return df.selectExpr("doc_id", "url", "encode(html_str, 'utf-8') as html", "text")


def hostile_pages_cte(docs_rel: str = DOCUMENTS) -> str:
    return hostile_select_sql(DUCK, docs_rel)


# ---------------------------------------------------------------------------
# Hostile family #2 — the insertion modes family #1 does not reach, chosen
# to mirror the conformance corpus's template / tests26 / menuitem /
# foreign-fragment files (the reference's own weakest set,
# /root/reference/lib/HTML5/DOM.pod:3325-3328).  Constructs, in order:
#
#   <template><b>tN</b></template> in <head>   -- "in template" mode; the
#       content lives in a separate fragment (serializes inline, excluded
#       from textContent)
#   <table><caption>cap N</caption>            -- "in caption"
#   <col>                                      -- colgroup synthesis,
#                                                 "in column group"
#   <select><option>opt…</select> inside table -- foster-parented select,
#                                                 "in select in table",
#                                                 implied </option>
#   <tr><td>cN</table>                         -- tbody synthesis, close-cell
#   <a href="/?x=1&amp=2&amp;y=3" title="T&copy;">
#       attribute character references: &amp=2 stays LITERAL (named ref
#       followed by '='), &amp;y decodes to &y, &copy; decodes to ©
#   <menuitem>mN</menuitem>                    -- ordinary element (tests26)
#   <math><mi>mi</mi><annotation-xml encoding="text/html"><p>hx N</p>…
#       HTML integration point inside MathML
#   <svg><foreignObject><p>fo N</p>…           -- HTML island in SVG
#   <p>tail {text}                             -- unclosed, closed by </body>
#
# Spec tree (WHATWG 13.2.6, hand-derived; k = doc_id % 3 + 1 options):
#   body children: select[k x option["opt"]] (fostered BEFORE the table),
#   table[caption["cap N"], colgroup[col], tbody[tr[td["cN"]]]],
#   a["lnk N"], menuitem["mN"], math[mi["mi"], annotation-xml[p["hx N"]]],
#   svg[foreignObject[p["fo N"]]], p["tail " text]
# => n_nodes = 34 + 2k (arena: document + doctype + 23+k elements + 9+k
#    texts; template content nodes included), n_elements = 23 + k.
# ---------------------------------------------------------------------------


def hostile2_html_expr(dialect: str, id_col: str = "doc_id",
                       text_col: str = "text") -> str:
    """Hostile-template #2 HTML as a SQL string expression (both dialects)."""
    i = cast_str(id_col, dialect)
    return (
        f"'<!DOCTYPE html><html><head><template><b>t' || {i} || '</b>"
        f"</template></head><body>"
        f"<table><caption>cap ' || {i} || '</caption><col>"
        f"<select>' || repeat('<option>opt', {id_col} % 3 + 1) || '</select>"
        f"<tr><td>c' || {i} || '</table>"
        f"<a href=\"/?x=1&amp=2&amp;y=3\" title=\"T&copy;\">lnk ' || {i} || '</a>"
        f"<menuitem>m' || {i} || '</menuitem>"
        f"<math><mi>mi</mi><annotation-xml encoding=\"text/html\">"
        f"<p>hx ' || {i} || '</p></annotation-xml></math>"
        f"<svg><foreignObject><p>fo ' || {i} || '</p></foreignObject></svg>"
        f"<p>tail ' || {text_col} || '</body></html>'"
    )


def hostile2_serialized_expr(dialect: str, id_col: str = "doc_id",
                             text_col: str = "text") -> str:
    """Spec-conformant serialization of hostile template #2 — template
    content inlined, select fostered before the table, colgroup/tbody
    synthesized, attribute refs re-escaped (&amp=2 was never decoded so it
    round-trips as &amp;amp=2; &copy; decoded to © and NOT re-escaped)."""
    i = cast_str(id_col, dialect)
    return (
        f"'<!DOCTYPE html><html><head><template><b>t' || {i} || '</b>"
        f"</template></head><body>"
        f"<select>' || repeat('<option>opt</option>', {id_col} % 3 + 1) || '</select>"
        f"<table><caption>cap ' || {i} || '</caption><colgroup><col></colgroup>"
        f"<tbody><tr><td>c' || {i} || '</td></tr></tbody></table>"
        f"<a href=\"/?x=1&amp;amp=2&amp;y=3\" title=\"T©\">lnk ' || {i} || '</a>"
        f"<menuitem>m' || {i} || '</menuitem>"
        f"<math><mi>mi</mi><annotation-xml encoding=\"text/html\">"
        f"<p>hx ' || {i} || '</p></annotation-xml></math>"
        f"<svg><foreignObject><p>fo ' || {i} || '</p></foreignObject></svg>"
        f"<p>tail ' || {text_col} || '</p></body></html>'"
    )


def hostile2_url_expr(dialect: str, id_col: str = "doc_id") -> str:
    return f"'https://example.org/hostile2/' || {cast_str(id_col, dialect)}"


def hostile2_select_sql(dialect: str, docs_rel: str) -> str:
    return (
        f"select doc_id, {hostile2_url_expr(dialect)} as url, "
        f"{hostile2_html_expr(dialect)} as html_str, text from {docs_rel}"
    )


def hostile2_pages_df(spark, sf_dir: str):
    """Spark DataFrame (doc_id, url, html binary, text) of hostile2 pages."""
    docs = read_docs(spark, sf_dir)
    df = sql_over(lambda v: hostile2_select_sql(SPARK, v), docs)
    return df.selectExpr("doc_id", "url", "encode(html_str, 'utf-8') as html", "text")


def hostile2_pages_cte(docs_rel: str = DOCUMENTS) -> str:
    return hostile2_select_sql(DUCK, docs_rel)


# ---------------------------------------------------------------------------
# Messy family — the realistic frameless page: the tree builder's common
# constructs beyond plain blocks, under oracle check.  No doctype (quirks mode), no
# <html>/<body> tags (implied frames), form/input/button, select with
# implied option closes, marquee (AFE marker), template (content in the
# arena, excluded from innerText), pre and textarea with the
# leading-newline rule, button inside an open <p>.
#
# Tree (k = doc_id % 3 + 1 options): html>head>[meta,title],
# body>[form[input,button], select[k x option], marquee[b], template[li],
# pre, p[a-text, button, textarea, tail-text]]
# => n_nodes = 27 + 2k, n_elements = 17 + k, quirks = BackCompat.
# ---------------------------------------------------------------------------


def messy_html_expr(dialect: str, id_col: str = "doc_id",
                    text_col: str = "text") -> str:
    i = cast_str(id_col, dialect)
    nl = "chr(10)" if dialect == DUCK else "char(10)"
    return (
        f"'<head><meta charset=\"utf-8\"><title>M ' || {i} || '</title></head>"
        f"<form action=\"/s\"><input name=\"q\">"
        f"<button>go ' || {i} || '</button></form>"
        f"<select>' || repeat('<option>o', {id_col} % 3 + 1) || '</select>"
        f"<marquee><b>m ' || {i} || '</b></marquee>"
        f"<template><li>t ' || {i} || '</li></template>"
        f"<pre>' || {nl} || 'code ' || {i} || '</pre>"
        f"<p>a<button>b ' || {i} || '</button>"
        f"<textarea>' || {nl} || 'ta ' || {i} || '</textarea>' || {text_col}"
    )


def messy_serialized_expr(dialect: str, id_col: str = "doc_id",
                          text_col: str = "text") -> str:
    """Expected serialize(parse(messy_html)): implied html/head/body
    materialized, option end tags synthesized, single leading newline of
    pre/textarea consumed, everything after <p> nested inside it."""
    i = cast_str(id_col, dialect)
    return (
        f"'<html><head><meta charset=\"utf-8\"><title>M ' || {i} || '</title>"
        f"</head><body><form action=\"/s\"><input name=\"q\">"
        f"<button>go ' || {i} || '</button></form>"
        f"<select>' || repeat('<option>o</option>', {id_col} % 3 + 1) || '</select>"
        f"<marquee><b>m ' || {i} || '</b></marquee>"
        f"<template><li>t ' || {i} || '</li></template>"
        f"<pre>code ' || {i} || '</pre>"
        f"<p>a<button>b ' || {i} || '</button>"
        f"<textarea>ta ' || {i} || '</textarea>' || {text_col} || '</p>"
        f"</body></html>'"
    )


def messy_url_expr(dialect: str, id_col: str = "doc_id") -> str:
    return f"'https://example.org/messy/' || {cast_str(id_col, dialect)}"


def messy_select_sql(dialect: str, docs_rel: str) -> str:
    return (
        f"select doc_id, {messy_url_expr(dialect)} as url, "
        f"{messy_html_expr(dialect)} as html_str, text from {docs_rel}"
    )


def messy_pages_df(spark, sf_dir: str):
    docs = read_docs(spark, sf_dir)
    df = sql_over(lambda v: messy_select_sql(SPARK, v), docs)
    return df.selectExpr("doc_id", "url", "encode(html_str, 'utf-8') as html", "text")


def messy_pages_cte(docs_rel: str = DOCUMENTS) -> str:
    return messy_select_sql(DUCK, docs_rel)


# ---------------------------------------------------------------------------
# Entity family — character-reference decoding under oracle check
# (tokenizer named/numeric/legacy refs + serializer re-escaping; reference
# behavior t/0-api.t:122, DOM.pod:1044-1046).  The soup covers: named
# (&amp; &lt; &gt; &quot; &nbsp; &copy; &hellip;), numeric (&#39;), the
# legacy no-semicolon form inside a word (a&copyb -> a(c)b) and the
# spec's famous &notit; -> (not)it; longest-match case.
# ---------------------------------------------------------------------------

_ENTITY_SOUP_SRC = (
    "x &amp; y &lt;z&gt; &quot;q&#39; &nbsp;&copy;&hellip; a&copyb &notit; "
)
_ENTITY_SOUP_DECODED = "x & y <z> \"q' \xa0©… a©b ¬it; "
_ENTITY_SOUP_SERIALIZED = (
    "x &amp; y &lt;z&gt; \"q' &nbsp;©… a©b ¬it; "
)
_ENTITY_ANCHOR = '<a href="/?a=1&amp;b=2" title="x&quot;y">l</a>'


def _q(s: str) -> str:
    """SQL string-literal body (single quotes doubled)."""
    return s.replace("'", "''")


def entity_select_sql(dialect: str, docs_rel: str) -> str:
    u = f"'https://example.org/entity/' || {cast_str('doc_id', dialect)}"
    html = (
        f"'<!DOCTYPE html><html><head></head><body>"
        f"<p>{_q(_ENTITY_SOUP_SRC)}' || text || '</p>"
        f"{_q(_ENTITY_ANCHOR)}</body></html>'"
    )
    return (f"select doc_id, {u} as url, {html} as html_str, text "
            f"from {docs_rel}")


def entity_pages_df(spark, sf_dir: str):
    docs = read_docs(spark, sf_dir)
    df = sql_over(lambda v: entity_select_sql(SPARK, v), docs)
    return df.selectExpr("doc_id", "url", "encode(html_str, 'utf-8') as html")


def entity_text_content_expr() -> str:
    """DuckDB expression: expected body textContent of an entity page."""
    return f"'{_q(_ENTITY_SOUP_DECODED)}' || text || 'l'"


def entity_serialized_expr() -> str:
    """DuckDB expression: expected serialize(parse(entity page))."""
    return (
        f"'<!DOCTYPE html><html><head></head><body>"
        f"<p>{_q(_ENTITY_SOUP_SERIALIZED)}' || text || '</p>"
        f"{_q(_ENTITY_ANCHOR)}</body></html>'"
    )


# ---------------------------------------------------------------------------
# Doctype-variant family — exercises the quirks-mode table
# (treebuilder._doctype_quirks; reference compatMode DOM.xs:1256-1268).
# doc_id % 3: 0 = no doctype (quirks), 1 = <!DOCTYPE html> (no-quirks),
# 2 = HTML 4.01 Transitional public id, no system id (quirks per WHATWG).
# ---------------------------------------------------------------------------

def doctype_variant_select_sql(dialect: str, docs_rel: str) -> str:
    u = hostile_url_expr(dialect)
    dt = (
        "case doc_id % 3 when 0 then '' when 1 then '<!DOCTYPE html>' "
        "else '<!DOCTYPE html PUBLIC \"-//W3C//DTD HTML 4.01 Transitional//EN\">' end"
    )
    return (
        f"select doc_id, {u} as url, {dt} || "
        f"'<html><head></head><body><p>x</p></body></html>' as html_str "
        f"from {docs_rel}"
    )


#: encoding variant per doc_id % len(ENCODING_VARIANTS) — exercises the sniffing pipeline
#: (meta prescan for the ASCII-compatible charsets, BOM for utf-16
#: LE/BE; reference utils.c:620-649 order) across the reference's label
#: families (lib/HTML5/DOM.pod:3138-3194): cyrillic, central-european,
#: greek, turkish, CJK multi-byte.  The corpus text is pure ASCII, so
#: every non-utf-16 variant is exactly 1 byte/char and the binary_meta
#: oracle's size arithmetic is len(html) + len(label) - len('utf-8').
#: (canonical name, meta label or None for BOM, python codec)
ENCODING_VARIANTS = [
    ("UTF-8", "utf-8", "utf-8"),
    ("WINDOWS-1251", "windows-1251", "windows-1251"),
    ("KOI8-R", "koi8-r", "koi8-r"),
    ("UTF-16LE", None, "utf-16-le"),
    ("WINDOWS-1252", "windows-1252", "windows-1252"),
    ("ISO-8859-2", "iso-8859-2", "iso8859-2"),
    ("UTF-16BE", None, "utf-16-be"),
    ("KOI8-U", "koi8-u", "koi8-u"),
    ("SHIFT_JIS", "shift_jis", "shift_jis"),
    ("EUC-JP", "euc-jp", "euc_jp"),
    ("EUC-KR", "euc-kr", "euc_kr"),
    ("GBK", "gbk", "gbk"),
    ("GB18030", "gb18030", "gb18030"),
    ("BIG5", "big5", "big5"),
    ("WINDOWS-1250", "windows-1250", "cp1250"),
    ("WINDOWS-1253", "windows-1253", "cp1253"),
    ("WINDOWS-1254", "windows-1254", "cp1254"),
    ("ISO-8859-5", "iso-8859-5", "iso8859-5"),
    ("ISO-8859-7", "iso-8859-7", "iso8859-7"),
    ("ISO-8859-15", "iso-8859-15", "iso8859-15"),
    ("WINDOWS-1255", "windows-1255", "cp1255"),
    ("WINDOWS-1256", "windows-1256", "cp1256"),
    ("WINDOWS-1257", "windows-1257", "cp1257"),
    ("WINDOWS-1258", "windows-1258", "cp1258"),
    ("IBM866", "ibm866", "cp866"),
    ("X-MAC-CYRILLIC", "x-mac-cyrillic", "mac-cyrillic"),
    ("ISO-8859-3", "iso-8859-3", "iso8859-3"),
    ("ISO-8859-4", "iso-8859-4", "iso8859-4"),
    ("ISO-8859-6", "iso-8859-6", "iso8859-6"),
    ("ISO-8859-8", "iso-8859-8", "iso8859-8"),
    ("WINDOWS-874", "windows-874", "cp874"),
    ("MACINTOSH", "macintosh", "mac-roman"),
    ("ISO-8859-10", "iso-8859-10", "iso8859-10"),
    ("ISO-8859-13", "iso-8859-13", "iso8859-13"),
    ("ISO-8859-14", "iso-8859-14", "iso8859-14"),
    ("ISO-8859-16", "iso-8859-16", "iso8859-16"),
    # ASCII corpus: iso-2022-jp emits no escape sequences, 1 byte/char
    ("ISO-2022-JP", "iso-2022-jp", "iso2022_jp"),
    ("ISO-8859-8-I", "iso-8859-8-i", "iso8859-8"),
]


def encoded_pages_df(spark, sf_dir: str):
    """Pages with html bytes rotating over the ENCODING_VARIANTS
    table (doc_id % len):
    single-byte charsets get their ``<meta charset>`` label rewritten,
    utf-16 LE/BE get a BOM.  Byte encoding happens in the Arrow kernel —
    Spark's ``encode()`` only supports unicode charsets."""
    docs = read_docs(spark, sf_dir)
    df = sql_over(lambda v: pages_select_sql(SPARK, v), docs)

    def body(did, s):
        import codecs

        _, label, codec = ENCODING_VARIANTS[int(did) % len(ENCODING_VARIANTS)]
        if label is None:
            bom = (codecs.BOM_UTF16_LE if codec == "utf-16-le"
                   else codecs.BOM_UTF16_BE)
            b = bom + s.encode(codec)
        elif codec == "utf-8":
            b = s.encode("utf-8")
        else:
            # errors='replace': a real corpus has chars outside the
            # legacy charsets; '?' is 1 byte so the binary_meta
            # oracle's size arithmetic is unchanged
            b = s.replace('charset="utf-8"',
                          f'charset="{label}"').encode(codec, errors="replace")
        return {"html": b}

    return map_documents(df, ("doc_id", "url"), ("doc_id", "html_str"),
                         body, {"html": "binary"}, empty_row={"html": None})
