"""Property-based tests (SURVEY.md §5: light property layer).

Pure-Python (pyref + numpy operators) — no Spark session. Pins the
invariants that the two-implementation equality checks rely on:

  * cleaning is idempotent (X1/X2);
  * layout output is invariant under permutation of the detection array
    (the reference sorts before clustering, so input order must not
    matter) — v1/v2 with distinct sort keys;
  * the layout engine equals the pyref sequential scan on random inputs
    (not just the committed fixtures);
  * spans reconstruct extracted_text exactly (offsets are a partition).
"""

from __future__ import annotations

import json
import random

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from ocr_image_to_text_spark import pyref
from ocr_image_to_text_spark.operators.htmlx import clean_block
from ocr_image_to_text_spark.operators.layout import extract_boxes_json

TEXTS = st.text(max_size=200)


ASCII_TEXTS = st.text(alphabet=st.characters(codec="ascii"), max_size=200)


@given(ASCII_TEXTS)
@settings(max_examples=200, deadline=None)
def test_clean_block_idempotent_on_ascii(s):
    """X1 is idempotent on ASCII input. It is NOT idempotent in general —
    stripping a non-ASCII char between two spaces creates a fresh '  '
    ('a 一 b' → 'a  b') — and the reference behaves identically
    (ocr_app/utils/text_utils.py:12-34 applies \\s+ collapse BEFORE the
    non-ASCII strip), which test_clean_block_matches_pyref pins."""
    once = clean_block(s)
    assert clean_block(once) == once


def test_clean_block_not_idempotent_in_general_bug_faithful():
    assert clean_block("a 一 b") == "a  b"
    assert clean_block(clean_block("a 一 b")) == "a b"


@given(TEXTS)
@settings(max_examples=200, deadline=None)
def test_clean_block_matches_pyref(s):
    assert clean_block(s) == pyref.preprocess_text(s)


def _boxes_strategy():
    word = st.text(alphabet="abcdefghij XYZ", min_size=1, max_size=12)
    box = st.tuples(
        st.floats(0, 780, allow_nan=False), st.floats(0, 580, allow_nan=False),
        st.floats(5, 80, allow_nan=False), st.floats(8, 24, allow_nan=False),
        word, st.floats(0, 1, allow_nan=False))
    return st.lists(box, min_size=0, max_size=25)


def _payload(boxes, h=600):
    out = []
    for x, y, w, hh, text, conf in boxes:
        poly = [[x, y], [x + w, y], [x + w, y + hh], [x, y + hh]]
        out.append([poly, text, conf])
    return json.dumps({"h": h, "w": 800, "boxes": out})


@given(_boxes_strategy(), st.randoms(use_true_random=False),
       st.sampled_from(["v1", "v2"]))
@settings(max_examples=150, deadline=None)
def test_layout_invariant_under_permutation(boxes, rnd, variant):
    """v1/v2 sort on (key, original-index); when sort keys are distinct the
    original index never breaks a tie, so shuffling the array is a no-op.
    Keys are floats from a continuous strategy → distinct w.p. 1; skip the
    measure-zero collision cases."""
    keys = [(round(b[0], 6), round(b[1], 6)) for b in boxes]
    if len(set(keys)) != len(keys):
        return
    base = extract_boxes_json(_payload(boxes), variant=variant)
    shuffled = list(boxes)
    rnd.shuffle(shuffled)
    got = extract_boxes_json(_payload(shuffled), variant=variant)
    # only the layout products are permutation-invariant: flat_text is
    # detection-order by definition (A5) and avg's float fold is
    # order-sensitive in the last ulp
    assert got[:4] == base[:4]


@given(_boxes_strategy(), st.sampled_from(["v1", "v2", "v3"]))
@settings(max_examples=150, deadline=None)
def test_numpy_layout_equals_pyref_scan(boxes, variant):
    payload = _payload(boxes)
    got = extract_boxes_json(payload, variant=variant)
    exp = pyref.extract_turn("", payload, variant=variant)
    assert got[0] == exp["extracted_text"]
    assert got[1] == exp["n_blocks_kept"]
    assert got[2] == exp["n_blocks_dropped"]
    assert got[3] == exp["table_flag"]


@given(TEXTS)
@settings(max_examples=200, deadline=None)
def test_spans_partition_the_text(s):
    spans = pyref.spans_of(s)
    if not s:
        assert spans == []
        return
    assert "\n".join(t for _, _, t in spans) == s
    for start, end, t in spans:
        assert s[start:end] == t
    # consecutive spans are separated by exactly the newline
    for (s0, e0, _), (s1, _, _) in zip(spans, spans[1:]):
        assert s1 == e0 + 1
