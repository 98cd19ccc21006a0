"""Differential test: fast-lane parse must equal the full insertion-mode
machine on EVERY input (fast lane bails to the slow lane when unsure, so
equality must hold whether or not the fast path was taken)."""

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from perl_html5_dom_spark.dom import fastparse
from perl_html5_dom_spark.dom.treebuilder import TreeBuilder


def project(doc):
    """Order-stable projection of every node field that matters."""
    order = doc.order
    pos = {nid: i for i, nid in enumerate(order)}

    def ref(nid):
        return pos.get(nid, -1) if nid is not None and nid != -1 else -1

    rows = []
    for nid in order:
        rows.append((
            doc.tag[nid], doc.ns[nid], doc.node_type[nid], doc.text[nid],
            dict(doc.attrs[nid]) if doc.attrs[nid] is not None else None,
            bool(doc.self_closed[nid]),
            doc.raw_begin[nid], doc.raw_length[nid],
            doc.elem_begin[nid], doc.elem_length[nid],
        ))
    meta = (doc.quirks, ref(doc.html_node), ref(doc.head_node),
            ref(doc.body_node), ref(doc.doctype_node),
            doc.fostered, doc.misnested)
    return rows, meta


def assert_equal_trees(src):
    fast = fastparse.parse(src)
    full = TreeBuilder().parse(src)
    assert project(fast) == project(full), src[:400]


CASES = [
    "",
    "<!DOCTYPE html><html><head><title>t</title></head><body><p>x</p></body></html>",
    "<html><body><p>implied doctype",
    "<!DOCTYPE html><html><head></head><body><div><p>a<p>b</div></body></html>",
    "<!DOCTYPE html><html><head></head><body><ul><li>a<li>b<li><ul><li>n</ul></ul></body></html>",
    "<!DOCTYPE html><html><head></head><body><h1>a<h2>b</h2></body></html>",
    "<!DOCTYPE html><html><head></head><body><b>x</b><i>y</i></body></html>",
    "<!DOCTYPE html><html><head></head><body><p><b>x</b></p></body></html>",
    "<!DOCTYPE html><html><head></head><body><p><b>x<div>y</div></b></body></html>",  # AFE bail
    "<!DOCTYPE html><html><head></head><body><a href='1'>x</a><a href='2'>y</a></body></html>",
    "<!DOCTYPE html><html><head></head><body><a>x<a>y</a></body></html>",  # nested a bail
    "<!DOCTYPE html><html><head></head><body><nobr>x<nobr>y</body></html>",  # nobr AAA bail
    "<!DOCTYPE html><html><head></head><body><nobr>a</nobr><nobr>b</nobr></body></html>",
    "<!DOCTYPE html><html><head></head><body><b><b><b><b>deep</b></body></html>",  # Noah's ark
    "<!DOCTYPE html><html><head></head><body><tt>a<u>b<s>c</s></u></tt></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tr><td>x</td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><svg><circle/></svg></body></html>",
    "<!DOCTYPE html><html><head><meta charset=\"utf-8\"><style>a{}</style>"
    "<script>if(a<b)x();</script></head><body>t</body></html>",
    "<!-- c --><!DOCTYPE html><html><!-- d --><head></head><body>x</body><!-- e --></html><!-- f -->",
    "<!DOCTYPE html><html><head></head><body><span>x</span></div></body></html>",
    "<!DOCTYPE html><html><head></head><body><div><span></div>t</body></html>",
    "<!DOCTYPE html><html><head></head><body><dl><dd>a<dt>b</dl></body></html>",
    "<!DOCTYPE html><html><head></head><body>a<br>b<hr><img src=x>c</body></html>",
    "<!DOCTYPE html><html><head></head><body><p>x</p></body></html>\n",
    "<!DOCTYPE html><html><head></head><body><blockquote><p>q</blockquote></body></html>",
    "<!doctype HTML><HTML><HEAD></HEAD><BODY><P>upper</P></BODY></HTML>",
    "<!DOCTYPE html><html><head></head><body></p>x</body></html>",  # stray </p> bail
    "<!DOCTYPE html><html><head></head><body><h3>only open",
    "<!DOCTYPE html><html><head></head><body><footer><p>a</footer></body></html>",
    "<!DOCTYPE html><html lang=\"en\" data-x=\"1\"><head></head><body>x</body></html>",
    "plain text only",
    "<div>no frame</div>",
    "<!DOCTYPE html><html><head><title>a&amp;b</title></head><body>&lt;x&gt;</body></html>",
    "<!DOCTYPE html><html><head></head><body><p>\xa0 nbsp \xa0</p></body></html>",
]


@pytest.mark.parametrize("src", CASES)
def test_differential_cases(src):
    assert_equal_trees(src)


def test_differential_corpus():
    from perl_html5_dom_spark.sources import pages

    rows = duckdb.sql(
        "with documents as (select * from "
        "'/root/testdata/sf0.01/documents.parquet') "
        + pages.pages_cte() + " limit 200").fetchall()
    n_fast = 0
    for _, _, html_str, _, _ in rows:
        assert_equal_trees(html_str)
        if fastparse.try_parse(html_str) is not None:
            n_fast += 1
    # the synthetic corpus is exactly the shape the fast lane targets
    assert n_fast == len(rows)


_tags = st.sampled_from(
    "div p span ul li b i a h1 h2 br table td form pre em strong section "
    "dd dt dl hr img footer blockquote select option optgroup input "
    "template menuitem button textarea marquee object applet "
    # full FORMATTING_TAGS set — the adoption-agency corner the fast lane
    # must bail on (a round-1 nobr divergence hid here)
    "nobr small big tt u s strike font code "
    # full table vocabulary — the fast lane now parses the well-formed
    # subset, so the fuzz must hammer the messy shapes
    "tr th tbody thead tfoot caption colgroup".split())

_HEADS = [
    "<!DOCTYPE html><html><head></head><body>",
    "<!DOCTYPE html><html><head><title>t</title></head><body>",
    "<!DOCTYPE html><html><head><meta charset=\"utf-8\"><style>a{color:x}"
    "</style><script>1<2&&x()</script></head><body>",
    "<html><head></head><body>",
    "<!-- lead --><!DOCTYPE html><html><head></head><body>",
    # implied-frame shapes (round 3: the fast lane synthesizes
    # html/head/body and handles ws between </head> and <body>)
    "",
    "<!DOCTYPE html>",
    "<body>",
    "<head><title>t</title></head> \n",
    "<!DOCTYPE html><html><head></head>\n  <body>",
    "</div><!-- stray -->",
]


@st.composite
def soup(draw):
    parts = [draw(st.sampled_from(_HEADS))]
    for _ in range(draw(st.integers(0, 12))):
        kind = draw(st.integers(0, 4))
        t = draw(_tags)
        if kind == 0:
            parts.append(f"<{t}>")
        elif kind == 1:
            parts.append(f"</{t}>")
        elif kind == 2:
            parts.append(draw(st.text(
                alphabet="ab <>&;x\n\t\xa0", min_size=0, max_size=12)))
        elif kind == 3:
            parts.append(draw(st.sampled_from(
                ["<!-- c -->", "<script>x<y</script>", "<style>.c{}</style>"])))
        else:
            parts.append(f'<{t} class="c d" id=\'{draw(st.integers(0, 9))}\'>')
    parts.append(draw(st.sampled_from(["", "</body></html>", "</body>", "</html>"])))
    return "".join(parts)


@settings(max_examples=500, deadline=None)
@given(soup())
def test_differential_fuzz(src):
    assert_equal_trees(src)


_fmt_tags = st.sampled_from(
    "a nobr b i small big tt u s strike font code em strong div p".split())


@st.composite
def formatting_soup(draw):
    """Formatting-heavy generator targeting adoption-agency bail paths."""
    parts = ["<!DOCTYPE html><html><head></head><body>"]
    for _ in range(draw(st.integers(1, 10))):
        t = draw(_fmt_tags)
        parts.append(draw(st.sampled_from([f"<{t}>", f"</{t}>", "x", " "])))
    return "".join(parts)


@settings(max_examples=400, deadline=None)
@given(formatting_soup())
def test_differential_fuzz_formatting(src):
    assert_equal_trees(src)


_table_tags = st.sampled_from(
    "table tr td th tbody thead tfoot caption col colgroup div p b ul li".split())


@st.composite
def table_soup(draw):
    """Table-heavy generator targeting the fast lane's table subset and
    its bail boundaries (fostered text, stray ends, nesting)."""
    parts = ["<!DOCTYPE html><html><head></head><body>"]
    for _ in range(draw(st.integers(1, 14))):
        t = draw(_table_tags)
        parts.append(draw(st.sampled_from(
            [f"<{t}>", f"</{t}>", "x", " ", "<!-- c -->"])))
    return "".join(parts)


@settings(max_examples=500, deadline=None)
@given(table_soup())
def test_differential_fuzz_tables(src):
    assert_equal_trees(src)


_forms_tags = st.sampled_from(
    "form input button textarea select option pre listing p div b li ul".split())


@st.composite
def forms_soup(draw):
    """Forms/pre generator: form pointer, button implied closes,
    textarea rcdata, pre leading-newline, select interplay."""
    parts = ["<!DOCTYPE html><html><head></head><body>"]
    for _ in range(draw(st.integers(1, 14))):
        t = draw(_forms_tags)
        parts.append(draw(st.sampled_from(
            [f"<{t}>", f"</{t}>", "x", " ", "\n"])))
    return "".join(parts)


@settings(max_examples=500, deadline=None)
@given(forms_soup())
def test_differential_fuzz_forms(src):
    assert_equal_trees(src)


_select_tags = st.sampled_from(
    "select option optgroup input p div b table td tr caption template".split())


@st.composite
def select_soup(draw):
    """Select-heavy generator targeting the in-select sub-parser and its
    bail boundaries (input reprocess, select-in-table reshuffle)."""
    parts = ["<!DOCTYPE html><html><head></head><body>"]
    for _ in range(draw(st.integers(1, 14))):
        t = draw(_select_tags)
        parts.append(draw(st.sampled_from([f"<{t}>", f"</{t}>", "x", " "])))
    return "".join(parts)


@settings(max_examples=500, deadline=None)
@given(select_soup())
def test_differential_fuzz_select(src):
    assert_equal_trees(src)


_marker_tags = st.sampled_from(
    "marquee object applet b i p div a nobr em li template select".split())


@st.composite
def marker_soup(draw):
    """AFE-marker containers (marquee/object/applet/template) interleaved
    with formatting — targets marker discipline, scope boundaries and
    the cross-sub-parser </template> guards."""
    parts = ["<!DOCTYPE html><html><head></head><body>"]
    for _ in range(draw(st.integers(1, 12))):
        t = draw(_marker_tags)
        parts.append(draw(st.sampled_from([f"<{t}>", f"</{t}>", "x", " "])))
    return "".join(parts)


@settings(max_examples=500, deadline=None)
@given(marker_soup())
def test_differential_fuzz_markers(src):
    assert_equal_trees(src)


_foreign_tags = st.sampled_from(
    "svg math circle rect g path title desc foreignObject mi mo ms mtext "
    "annotation-xml textpath lineargradient p div span b script use text".split())


@st.composite
def foreign_soup(draw):
    """Foreign-content generator targeting the island sub-parser and its
    bail boundaries (breakout tags, integration points, CDATA, crossing
    end tags, self-closing)."""
    parts = ["<!DOCTYPE html><html><head></head><body>"]
    for _ in range(draw(st.integers(1, 14))):
        t = draw(_foreign_tags)
        parts.append(draw(st.sampled_from(
            [f"<{t}>", f"</{t}>", f"<{t}/>", "x", " ", "<!-- c -->",
             "<![CDATA[d<e]]>",
             f'<{t} encoding="text/html">',
             f'<{t} viewBox="0 0 1 1" stroke-width="2">'])))
    return "".join(parts)


@settings(max_examples=600, deadline=None)
@given(foreign_soup())
def test_differential_fuzz_foreign(src):
    assert_equal_trees(src)


def test_nobr_fast_lane_bails():
    # repeated <nobr> runs the adoption agency (WHATWG "in body", nobr rule);
    # the fast lane must defer to the full machine
    assert fastparse.try_parse(
        "<!DOCTYPE html><html><head></head><body><nobr>x<nobr>y</body></html>"
    ) is None


# fast-lane table subset: every case must be tree-identical AND the
# well-formed ones must stay in the fast lane
TABLE_FAST = [
    "<!DOCTYPE html><html><head></head><body><table><tr><td>x</td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tbody><tr><td>a</td><td>b</td></tr></tbody></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tr><td>a<td>b<tr><td>c</table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table> <tr><td>x</td></tr> </table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><thead><tr><th>h</th></tr><tbody><tr><td>x</td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tr><td><p>para<div>blk</div></td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tr><td><b>bold</td><td>plain</td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><p>before<table><tr><td>x</td></tr></table>after</body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tr><td><table><tr><td>inner</td></tr></table></td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tbody><tr><td>x</td></tr></tbody><tfoot><tr><td>f</td></tr></tfoot></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tr><td><ul><li>a<li>b</ul></td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tr><td>x</td></tr><!-- c --></table></body></html>",
]

TABLE_BAIL = [
    # fostered text / weird structure must fall back to the full machine
    "<!DOCTYPE html><html><head></head><body><table>fost<tr><td>x</td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><caption>c</caption><tr><td>x</td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><colgroup><col></colgroup><tr><td>x</td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tr><td>x</th></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tr><td>x",
    "<!DOCTYPE html><html><head></head><body><b><table><tr><td>x</td></tr></table>y</b></body></html>",
]


@pytest.mark.parametrize("src", TABLE_FAST)
def test_table_fast_lane(src):
    assert_equal_trees(src)
    assert fastparse.try_parse(src) is not None, "should stay in fast lane"


@pytest.mark.parametrize("src", TABLE_BAIL)
def test_table_bail_cases(src):
    assert_equal_trees(src)


# scope boundaries: walks from inside a cell must not cross td/th/table
SCOPE_CASES = [
    "<!DOCTYPE html><html><head></head><body><div><table><tr><td></div>x</td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><p><table><tr><td></p>x</td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><h1><table><tr><td></h2>x</td></tr></table></h1></body></html>",
    "<!DOCTYPE html><html><head></head><body><ul><li><table><tr><td><li>in</td></tr></table></li></ul></body></html>",
]


@pytest.mark.parametrize("src", SCOPE_CASES)
def test_table_scope_boundaries(src):
    assert_equal_trees(src)


# AFE reconstruction in the fast lane: implied closes crossing open
# formatting elements reopen them at the next text/phrasing insertion
# (WHATWG "reconstruct the active formatting elements") — these common
# shapes must stay in the fast lane AND be tree-identical
RECONSTRUCT_FAST = [
    "<!DOCTYPE html><html><head></head><body><p><b>x<p>y</p></body></html>",
    "<!DOCTYPE html><html><head></head><body><div><b>x</div>y</body></html>",
    "<!DOCTYPE html><html><head></head><body><p><i>a<em>b<p>c</body></html>",
    "<!DOCTYPE html><html><head></head><body><ul><li><b>x<li>y</ul></body></html>",
    "<!DOCTYPE html><html><head></head><body><p><b class='k'>x<p><img src='i'></body></html>",
    "<!DOCTYPE html><html><head></head><body><p><b>x<p><span>y</span></body></html>",
    "<!DOCTYPE html><html><head></head><body><dl><dd><b>x<dd>y</dl></body></html>",
    "<!DOCTYPE html><html><head></head><body><table><tr><td><p><b>x<p>y</td><td>z</td></tr></table></body></html>",
    "<!DOCTYPE html><html><head></head><body><b>out<table><tr><td>in</td></tr></table>after</b></body></html>",
    "<!DOCTYPE html><html><head></head><body><p><b>x<p>y<b>z</body></html>",
]


@pytest.mark.parametrize("src", RECONSTRUCT_FAST)
def test_reconstruction_fast_lane(src):
    assert_equal_trees(src)
    assert fastparse.try_parse(src) is not None, "should stay in fast lane"


RECONSTRUCT_BAIL = [
    # end-tag-driven adoption agency still defers to the full machine
    "<!DOCTYPE html><html><head></head><body><p><b>x<div>y</div></b>z</body></html>",
    "<!DOCTYPE html><html><head></head><body><b><i>x</b>y</i></body></html>",
    # formatting crossing a cell marker from outside reconstructs inside
    # the cell in no case — but a pending OUTER element reopened after
    # the table is end-tag territory
    "<!DOCTYPE html><html><head></head><body><p><b>x<table><tr><td>c</td></tr></table>y</b></body></html>",
]


@pytest.mark.parametrize("src", RECONSTRUCT_BAIL)
def test_reconstruction_bail_cases(src):
    assert_equal_trees(src)


# round-2 ADVICE regressions: the formatting end-tag fast path must act
# on the LAST AFE-tail entry (spec adoption agency), not the stack top,
# and </br> must reconstruct active formatting like a <br> START tag
ADVICE_REGRESSIONS = [
    # outer <b> open, inner <b> off-stack after the </div> implied close:
    # </b> removes the NEWEST (off-stack) entry with no tree change, so
    # 'd' stays inside the outer <b>
    "<!DOCTYPE html><html><head></head><body><b>a<div><b>c</div></b>d</body></html>",
    "<!DOCTYPE html><html><head></head><body><i>a<p><i>c<div>e</div></i>d</body></html>",
    "<!DOCTYPE html><html><head></head><body><b>a<div><b>c</div></b>d</b>e</body></html>",
    "<!DOCTYPE html><html><head></head><body><em>a<blockquote><em>c</blockquote></em>d</body></html>",
    # </br> acts as a <br> start tag: reconstruct, so 'y' lands in <b>
    "<div><b>x</div></br>y",
    "<!DOCTYPE html><html><head></head><body><div><b>x</div></br>y</body></html>",
    "<!DOCTYPE html><html><head></head><body><p><i>x<p></br>y</body></html>",
]


@pytest.mark.parametrize("src", ADVICE_REGRESSIONS)
def test_advice_regressions(src):
    assert_equal_trees(src)


_dup_fmt = st.sampled_from("b i em strong u s code small".split())
_dup_blk = st.sampled_from("div p blockquote section li".split())


@st.composite
def dup_formatting_soup(draw):
    """Unclosed duplicate formatting inside a block — the AAA fast-pop
    divergence territory from the round-2 ADVICE."""
    f = draw(_dup_fmt)
    blk = draw(_dup_blk)
    parts = ["<!DOCTYPE html><html><head></head><body>", f"<{f}>", "a"]
    parts.append(draw(st.sampled_from(
        [f"<{blk}>", f"<{blk}><{f}>c", f"<{blk}>b<{f}>c", f"<{f}>c<{blk}>"])))
    parts.append(draw(st.sampled_from([f"</{blk}>", ""])))
    parts.append(draw(st.sampled_from([f"</{f}>", "</br>", "<br>", ""])))
    parts.append("d")
    parts.append(draw(st.sampled_from([f"</{f}>e", "</br>e", ""])))
    return "".join(parts)


@settings(max_examples=400, deadline=None)
@given(dup_formatting_soup())
def test_differential_fuzz_dup_formatting(src):
    assert_equal_trees(src)


# adoption-agency outer-loop fast cases handled without bailing:
AAA_FAST = [
    # </b> whose element left the stack via an implied close: AFE entry
    # removed, no tree change
    "<!DOCTYPE html><html><head></head><body><p><b>x<p>y</b>z</body></html>",
    # stray close of an already-closed formatting tag: any-other-end rules
    "<!DOCTYPE html><html><head></head><body><b>x</b>y</b>z</body></html>",
    # new <a> while the previous <a> is pending (off-stack): old entry
    # dropped, new <a> inserted plainly
    "<!DOCTYPE html><html><head></head><body><p><a href='1'>x<p><a href='2'>y</a></body></html>",
]


@pytest.mark.parametrize("src", AAA_FAST)
def test_aaa_fast_cases(src):
    assert_equal_trees(src)
    assert fastparse.try_parse(src) is not None, "should stay in fast lane"


def test_form_and_li_stop_regressions():
    """Minimal cases from the round-3 mixed-alphabet fuzz: form inside
    template (always inserted, pointer untouched; </form> pops by
    scope), dd/dt close stopping at special elements (button), and
    dialog NOT being a li/dd/dt stop."""
    cases = [
        "<!DOCTYPE html><body><form><template><form>x",
        "<!DOCTYPE html><body><template><form><form>x",
        "<!DOCTYPE html><body><template><form><b>x</form>y</template>z",
        "<!DOCTYPE html><body><dt><button><dt>x",
        "<!DOCTYPE html><body><li><dialog><li>x",
        "<!DOCTYPE html><body><template><marquee><marquee><marquee><b>"
        "<marquee></template><marquee>",
    ]
    for src in cases:
        assert_equal_trees(src)


def test_noscript_flips_template_to_body():
    """In-template <noscript> is NOT in the spec's head-ish list, so it
    flips the template insertion mode to in-body even though its
    content tokenizes as rawtext — a later </br> must act like <br>
    (found at 1-in-150k by the wide-alphabet differential fuzz)."""
    cases = [
        "<!DOCTYPE html><body><template><noscript></noscript></br>",
        "<!DOCTYPE html><body><template><style>a{}</style></br>x",
        "<!DOCTYPE html><body><template><noscript><b></b></noscript>y",
    ]
    for src in cases:
        assert_equal_trees(src)


def test_body_end_ignored_when_not_in_scope():
    """</body>/</html> are ignored while a marker container boxes body
    out of scope — subsequent content stays inside the open container
    (1-in-240k mega-fuzz find)."""
    for src in ("<body><applet></body><!--c-->",
                "<body><marquee></body>x",
                "<!DOCTYPE html><body><object></html>t"):
        assert_equal_trees(src)


def test_golden_cases_fast_lane_parity():
    """Every document-mode tree golden must agree between the fast lane
    (bail -> full-builder fallback) and the full TreeBuilder — the new
    DAT7 breadth families (quirks, entities, foreign, plaintext,
    frameset) ride through here too (VERDICT r3 #3)."""
    import test_tree_goldens as G

    for src, frag_ctx, _script, _expected in G.CASES:
        if frag_ctx is None:
            assert_equal_trees(src)


def test_pre_lookahead_container_closes():
    """The <pre>/<listing> newline-lookahead must not swallow an
    enclosing container's end tag (round-4 fuzz find): bail to the
    slow lane instead of mis-dispatching </template>/</caption>/cell
    closes through the body rules."""
    for src in (
        "<template><pre></template><span>x",
        "<template><listing></template><span>x",
        "<table><caption><pre></caption>x</table>",
        "<table><tr><td><pre></td><td>x</table>",
    ):
        assert_equal_trees(src)


def test_select_html_attr_merge():
    """in-select forwards an <html> start tag to the in-body rules,
    which merge its new attributes onto the existing html element —
    the fast lane must not ignore it with the select's anything-else
    rule (round-5 extended-generator fuzz find: <select><html a>
    dropped a="" from the root)."""
    for src in (
        "<select><html a>",
        "<select><option>x<html lang=en>y",
        "<table><select><html a=b>z",
    ):
        assert_equal_trees(src)
