"""The extraction kernel gives the recorded outputs (``extract_cases``):
``main_text``, the body's and the document's ``inner_text`` and every
``extract_one`` field, on hand-written shapes in full and on the
generated families by digest."""

import pytest

from extract_cases import SHAPES, digest, generated_inputs, goldens, outputs


@pytest.mark.parametrize("src", list(dict.fromkeys(SHAPES)))
def test_extract_shape_matches_recording(src):
    assert outputs(src) == goldens()["shapes"][src]


def test_extract_samples_match_recording():
    want = goldens()["samples"]
    inputs = generated_inputs()
    assert sorted(inputs) == sorted(want)
    for name, srcs in inputs.items():
        assert len(srcs) == len(want[name]), name
        bad = [src for src, d in zip(srcs, want[name]) if digest(src) != d]
        assert not bad, (name, len(bad), bad[:3])


def test_extract_one_fields_agree_with_standalone_calls():
    """``extract_one`` shares one body render between ``inner_text`` and
    ``main_text``; each field equals the standalone call's result."""
    for src, rec in goldens()["shapes"].items():
        assert rec["extract"]["main_text"] == rec["main_text"], src
        assert rec["extract"]["inner_text"] == rec["inner_body"], src


def test_paragraph_hook_records_fresh_renders():
    """Each text the body render records for a ``<p>`` (and for the
    render root) equals rendering that node on its own."""
    from perl_html5_dom_spark.dom import innertext
    from perl_html5_dom_spark.dom.fastparse import parse_document

    n = 0
    for srcs in [SHAPES, *generated_inputs().values()]:
        for src in srcs:
            doc = parse_document(src)
            body = doc.body_node if doc.body_node != -1 else doc.root
            paragraphs: dict = {}
            innertext.inner_text(doc, body, paragraphs)
            for nid, text in paragraphs.items():
                assert innertext.inner_text(doc, nid) == text, (src, nid)
            n += len(paragraphs)
    assert n > 1000    # the inputs do reach the hook
