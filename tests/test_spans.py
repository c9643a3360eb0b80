"""Parity tests: our span-decode core vs the reference's own functions
(imported read-only from /root/reference via tests/refimport.py)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from refimport import load_reference_utils, requires_reference
from uie_pytorch_spark.core import spans as S

ref = load_reference_utils()


# ---------- threshold (utils.py:125-151) ----------

@requires_reference
@given(
    st.lists(st.floats(0.0, 1.0, allow_nan=False), max_size=64),
    st.floats(0.0, 1.0),
)
def test_threshold_matches_reference(probs, limit):
    ours = S.threshold_ids(np.array(probs, dtype=np.float64), limit).tolist()
    theirs = ref.get_bool_ids_greater_than(probs, limit, return_prob=False)
    assert ours == theirs


def test_threshold_is_strict():
    assert S.threshold_ids(np.array([0.5, 0.5000001]), 0.5).tolist() == [1]


# ---------- pairing (utils.py:77-122) ----------

def _pair_via_reference(start_ids, start_ps, end_ids, end_ps):
    sset = ref.get_span(
        list(zip(start_ids, start_ps)), list(zip(end_ids, end_ps)), with_prob=True
    )
    return sorted(
        [(s[0], s[1], e[0], e[1]) for s, e in sset], key=lambda t: (t[0], t[2])
    )


@requires_reference
@given(
    st.lists(st.integers(0, 40), max_size=20, unique=True),
    st.lists(st.integers(0, 40), max_size=20, unique=True),
    st.randoms(use_true_random=False),
)
@settings(max_examples=300)
def test_pairing_matches_reference(starts, ends, rnd):
    # distinct probabilities so tuples are unambiguous
    sp = [round(0.5 + 0.4 * rnd.random(), 9) for _ in starts]
    ep = [round(0.5 + 0.4 * rnd.random(), 9) for _ in ends]
    ours = S.pair_spans(starts, sp, ends, ep)
    theirs = _pair_via_reference(starts, sp, ends, ep)
    assert ours == theirs


def test_pairing_docstring_example():
    # reference docstring example (utils.py:195-202): [1,2,10] [4,12]
    ours = S.pair_spans([1, 2, 10], [0.9, 0.8, 0.7], [4, 12], [0.6, 0.5])
    assert [(s, e) for s, _, e, _ in ours] == [(2, 4), (10, 12)]


def test_pairing_later_start_overwrites():
    # multiple starts before one end -> largest start wins
    ours = S.pair_spans([1, 3, 5], [0.9, 0.8, 0.7], [6], [0.6])
    assert [(s, e) for s, _, e, _ in ours] == [(5, 6)]


def test_pairing_start_consumed_once():
    # a start recorded for an earlier end is NOT reused for later ends
    ours = S.pair_spans([1], [0.9], [3, 5], [0.6, 0.5])
    assert [(s, e) for s, _, e, _ in ours] == [(1, 3)]


def test_pairing_equal_indices():
    ours = S.pair_spans([3], [0.9], [3, 5], [0.6, 0.5])
    assert [(s, e) for s, _, e, _ in ours] == [(3, 3)]


# ---------- offset rebase + prob (utils.py:539-557) ----------

def _om(prompt_len, text_len, pad=0):
    rows = [[0, 0]]
    rows += [[i, i + 1] for i in range(prompt_len)]
    rows += [[0, 0]]
    rows += [[i, i + 1] for i in range(text_len)]
    rows += [[0, 0]] * (1 + pad)
    return rows


@requires_reference
@given(st.integers(1, 8), st.integers(1, 12), st.integers(0, 3))
def test_get_id_and_prob_matches_reference(plen, tlen, pad):
    om = _om(plen, tlen, pad)
    L = len(om)
    # spans over arbitrary token positions incl. prompt region
    spans = []
    for s in range(1, L - 1, 3):
        e = min(s + 2, L - 2)
        spans.append(((s, 0.8), (e, 0.7)))

    ref_ids, ref_probs = ref.get_id_and_prob(
        set(spans), [list(r) for r in om]
    )
    ref_pairs = sorted(zip(ref_ids, ref_probs))

    om_re, _ = S.rebase_offset_mapping(np.array(om))
    ours = S.spans_to_char_offsets(
        [(s[0], s[1], e[0], e[1]) for s, e in spans], om_re
    )
    our_pairs = sorted(((a, b), p) for a, b, p in ours)
    assert [x[0] for x in our_pairs] == [x[0] for x in ref_pairs]
    assert [x[1] for x in our_pairs] == pytest.approx([x[1] for x in ref_pairs])


def test_full_decode_cls_span_negative_offsets():
    """Classification answers live in the prompt -> negative offsets ->
    sliced from the prompt (uie_predictor.py:347-352)."""
    prompt, text = "情感倾向[正向,负向]", "还行吧"
    plen, tlen = len(prompt), len(text)
    om = np.array(_om(plen, tlen))
    L = om.shape[0]
    sp = np.zeros(L, dtype=np.float32)
    ep = np.zeros(L, dtype=np.float32)
    # fire on prompt tokens for 正向 (prompt chars 5..6 -> tokens 6..7)
    sp[6], ep[7] = 0.9, 0.8
    char_spans = S.decode_example(sp, ep, om)
    res = S.char_spans_to_results(char_spans, text, prompt)
    assert res == [
        {"text": "正向", "probability": pytest.approx(0.9 * 0.8, abs=1e-6)}
    ]


def test_full_decode_boundary_span_dropped():
    """start<0 and end>=0 straddles [SEP] -> dropped
    (uie_predictor.py:345-346)."""
    prompt, text = "ab", "xyz"
    om = np.array(_om(2, 3))
    sp = np.zeros(om.shape[0], dtype=np.float32)
    ep = np.zeros(om.shape[0], dtype=np.float32)
    sp[1] = 0.9   # prompt token -> negative offset
    ep[5] = 0.8   # text token -> positive offset
    char_spans = S.decode_example(sp, ep, om)
    res = S.char_spans_to_results(char_spans, text, prompt)
    assert res == []


def test_text_span_slicing():
    prompt, text = "who", "alice met bob"
    om = np.array(_om(len(prompt), len(text)))
    sp = np.zeros(om.shape[0], dtype=np.float32)
    ep = np.zeros(om.shape[0], dtype=np.float32)
    # text char 0..4 ("alice"): text token j at om row 2+plen+j = 5+j
    sp[5 + 0], ep[5 + 4] = 0.9, 0.9
    res = S.char_spans_to_results(
        S.decode_example(sp, ep, om), text, prompt
    )
    assert res == [
        {
            "text": "alice",
            "start": 0,
            "end": 5,
            "probability": pytest.approx(0.81, abs=1e-6),
        }
    ]
