"""The serializer gives the recorded outputs (``serialize_cases``):
outer and inner HTML of the document, the body and the first
``<template>``/``<table>``/``<svg>``/``<pre>``, doctype, comment and text
node, and ``text_content``, on hand-written shapes and fragments in full
and on every generated input by digest."""

from serialize_cases import digest, generated_inputs, goldens, shape_outputs


def test_serialize_shapes_match_recording():
    got, want = shape_outputs(), goldens()["shapes"]
    assert sorted(got) == sorted(want)
    bad = [key for key in got if got[key] != want[key]]
    assert not bad, [(key, got[key], want[key]) for key in bad[:3]]


def test_serialize_samples_match_recording():
    want = goldens()["samples"]
    inputs = generated_inputs()
    assert sorted(inputs) == sorted(want)
    for name, srcs in inputs.items():
        assert len(srcs) == len(want[name]), name
        bad = [src[:200] for src, d in zip(srcs, want[name])
               if digest(src) != d]
        assert not bad, (name, len(bad), bad[:3])
