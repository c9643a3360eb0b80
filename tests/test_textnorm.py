"""Parity tests: textnorm + chunk math vs reference functions."""

from __future__ import annotations

import math

from hypothesis import given
from hypothesis import strategies as st

from refimport import load_reference_utils, requires_reference
from uie_pytorch_spark.core import textnorm as T

ref = load_reference_utils()

_text_st = st.text(
    alphabet=st.characters(codec="utf-8", exclude_categories=("Cs",)),
    max_size=200,
)


@requires_reference
@given(_text_st)
def test_dbc2sbc_matches_reference(s):
    assert T.dbc2sbc(s) == ref.dbc2sbc(s)


def test_dbc2sbc_ideographic_space_quirk():
    # U+3000 passes through (reference's 0x3000 branch is dead code)
    assert T.dbc2sbc("　") == "　"
    assert T.dbc2sbc("ＡＢ！１") == "AB!1"


@requires_reference
@given(_text_st)
def test_cut_chinese_sent_matches_reference(s):
    assert T.cut_chinese_sent(s) == ref.cut_chinese_sent(s)


def test_cut_chinese_sent_examples():
    assert T.cut_chinese_sent("你好。世界！真的？对……") == [
        "你好。",
        "世界！",
        "真的？",
        "对……",
    ]


@given(st.text(max_size=600), st.integers(1, 100))
def test_split_windows_reconstructs(text, mlen):
    chunks = T.split_windows(text, mlen)
    assert "".join(chunks) == text
    assert len(chunks) == T.num_windows(len(text), mlen)
    if len(text) > mlen:
        assert all(len(c) == mlen for c in chunks[:-1])
        assert len(chunks) == math.ceil(len(text) / mlen)


@given(st.text(max_size=600), st.integers(1, 100))
def test_chunk_offsets_are_cumulative_lengths(text, mlen):
    acc = 0
    for idx, chunk, off in T.chunk_with_offsets(text, mlen):
        assert off == acc
        acc += len(chunk)


def test_max_predict_len_is_lexicographic():
    # reference quirk (uie_predictor.py:418): max() on strings
    prompts = ["zz", "aaaaaaaaaa"]
    assert T.max_predict_len(prompts, 512) == 512 - len("zz") - 3


def test_empty_text_yields_single_chunk():
    assert T.split_windows("", 10) == [""]
