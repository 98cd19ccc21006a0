"""The document-parse entry (``fastparse.parse``, which builds with the
one tree builder) reproduces the recorded tree of every input a
lane-comparison test once checked.

These inputs were written against a second, optimistic tree builder
that handled a common subset and deferred to the insertion-mode machine
elsewhere; the tests compared the two.  That builder is deleted, and
each input is now checked against the tree recorded in
``parse_goldens.json`` (see ``parse_cases``) — every node field, the
source positions and the ``fostered``/``misnested`` flags included.
The test names still name the subset families the inputs came from.
"""

import duckdb
import pytest

from perl_html5_dom_spark.dom import fastparse

from parse_cases import (
    AAA_FAST,
    ADVICE_REGRESSIONS,
    BODY_END_NOT_IN_SCOPE,
    CASES,
    FORM_AND_LI_STOP,
    NOBR,
    NOSCRIPT_TEMPLATE,
    PRE_LOOKAHEAD,
    RECONSTRUCT_BAIL,
    RECONSTRUCT_FAST,
    SCOPE_CASES,
    SELECT_HTML_ATTR,
    TABLE_BAIL,
    TABLE_FAST,
    assert_recorded,
    assert_sample,
    digest,
    goldens,
)


def check(src):
    assert_recorded(src, fastparse.parse(src))


@pytest.mark.parametrize("src", CASES)
def test_differential_cases(src):
    check(src)


def corpus_pages():
    """The first 200 pages of the sf0.01 ``documents`` table."""
    from perl_html5_dom_spark.sources import pages

    rows = duckdb.sql(
        "with documents as (select * from "
        "'/root/testdata/sf0.01/documents.parquet') "
        + pages.pages_cte() + " limit 200").fetchall()
    return [html_str for _, _, html_str, _, _ in rows]


def test_differential_corpus():
    pages = corpus_pages()
    want = goldens()["corpus"]
    assert len(pages) == len(want)
    bad = [i for i, (html, d) in enumerate(zip(pages, want))
           if digest(fastparse.parse(html)) != d]
    assert not bad, bad[:5]


def test_differential_fuzz():
    assert_sample("soup", fastparse.parse)


def test_differential_fuzz_formatting():
    assert_sample("formatting", fastparse.parse)


def test_differential_fuzz_tables():
    assert_sample("tables", fastparse.parse)


def test_differential_fuzz_forms():
    assert_sample("forms", fastparse.parse)


def test_differential_fuzz_select():
    assert_sample("select", fastparse.parse)


def test_differential_fuzz_markers():
    assert_sample("markers", fastparse.parse)


def test_differential_fuzz_foreign():
    assert_sample("foreign", fastparse.parse)


def test_differential_fuzz_dup_formatting():
    assert_sample("dup_formatting", fastparse.parse)


def test_nobr_fast_lane_bails():
    check(NOBR)


@pytest.mark.parametrize("src", TABLE_FAST)
def test_table_fast_lane(src):
    check(src)


@pytest.mark.parametrize("src", TABLE_BAIL)
def test_table_bail_cases(src):
    check(src)


@pytest.mark.parametrize("src", SCOPE_CASES)
def test_table_scope_boundaries(src):
    check(src)


@pytest.mark.parametrize("src", RECONSTRUCT_FAST)
def test_reconstruction_fast_lane(src):
    check(src)


@pytest.mark.parametrize("src", RECONSTRUCT_BAIL)
def test_reconstruction_bail_cases(src):
    check(src)


@pytest.mark.parametrize("src", ADVICE_REGRESSIONS)
def test_advice_regressions(src):
    check(src)


@pytest.mark.parametrize("src", AAA_FAST)
def test_aaa_fast_cases(src):
    check(src)


def test_form_and_li_stop_regressions():
    for src in FORM_AND_LI_STOP:
        check(src)


def test_noscript_flips_template_to_body():
    for src in NOSCRIPT_TEMPLATE:
        check(src)


def test_body_end_ignored_when_not_in_scope():
    for src in BODY_END_NOT_IN_SCOPE:
        check(src)


def test_golden_cases_fast_lane_parity():
    """The document-parse entry gives every document-mode tree golden
    its hand-derived dump (scripting on, the entry's default)."""
    import test_tree_goldens as G
    from perl_html5_dom_spark.dom.treedump import tree_format

    for src, frag_ctx, script, expected in G.CASES:
        if frag_ctx is None and script in (None, True):
            assert tree_format(fastparse.parse(src)) == expected, src


def test_pre_lookahead_container_closes():
    for src in PRE_LOOKAHEAD:
        check(src)


def test_select_html_attr_merge():
    for src in SELECT_HTML_ATTR:
        check(src)
