"""TinyUIE invariants the distributed pipeline depends on."""

from __future__ import annotations

import os

import numpy as np

from uie_pytorch_spark.core.model import TinyUIE, forward_bucketed, get_model
from uie_pytorch_spark.core.tokenizer import encode_batch, encode_pair


def _forward(model, prompts, texts, pad_to=None):
    enc = encode_batch(prompts, texts, pad_to=pad_to)
    return forward_bucketed(
        model, enc["input_ids"], enc["token_type_ids"], enc["attention_mask"]
    )


def test_deterministic_across_instances():
    m1, m2 = TinyUIE(seed=7), TinyUIE(seed=7)
    s1, e1 = _forward(m1, ["竞赛名称"], ["语言与智能技术竞赛由中国举办。"])
    s2, e2 = _forward(m2, ["竞赛名称"], ["语言与智能技术竞赛由中国举办。"])
    assert np.array_equal(s1, s2) and np.array_equal(e1, e2)


def test_padding_invariance_bitwise():
    """A row's probabilities must not depend on batch padding length —
    this is what lets Spark's Arrow batching match the eager oracle
    byte-for-byte."""
    m = get_model()
    prompts = ["主办方", "竞赛名称的主办方"]
    texts = ["比赛由协会主办。", "短文"]
    alone_s, alone_e = _forward(m, prompts[:1], texts[:1])
    both_s, both_e = _forward(m, prompts, texts)
    L = alone_s.shape[1]
    assert np.array_equal(alone_s[0], both_s[0, :L])
    assert np.array_equal(alone_e[0], both_e[0, :L])
    # and padded way out to max length
    far_s, far_e = _forward(m, prompts[:1], texts[:1], pad_to=512)
    assert np.array_equal(alone_s[0], far_s[0, :L])
    assert np.array_equal(alone_e[0], far_e[0, :L])


def test_batch_order_invariance():
    m = get_model()
    prompts = ["a", "bb", "ccc"]
    texts = ["xxxx", "yy", "zzzzzz"]
    s, e = _forward(m, prompts, texts)
    s_rev, e_rev = _forward(m, prompts[::-1], texts[::-1])
    L = min(s.shape[1], s_rev.shape[1])
    assert np.array_equal(s[0, :L], s_rev[2, :L])


def test_mixed_length_batch_matches_singletons():
    """Rows of wildly different lengths in one batch must each equal
    their solo-run output (the bucketing contract)."""
    m = get_model()
    prompts = ["短", "a much longer english prompt here", "中等提示词"]
    texts = ["x" * 5, "y" * 120, "z" * 300]
    s, e = _forward(m, prompts, texts)
    for i, (p, t) in enumerate(zip(prompts, texts)):
        ss, ee = _forward(m, [p], [t])
        L = ss.shape[1]
        assert np.array_equal(ss[0], s[i, :L]), i
        assert np.array_equal(ee[0], e[i, :L]), i


def test_special_and_pad_positions_are_zero():
    m = get_model()
    enc = encode_batch(["ab"], ["cdef"], pad_to=32)
    s, e = forward_bucketed(
        m, enc["input_ids"], enc["token_type_ids"], enc["attention_mask"]
    )
    ids = enc["input_ids"][0]
    dead = (ids == 0) | (ids == 1) | (ids == 2)
    assert np.all(s[0][dead] == 0.0) and np.all(e[0][dead] == 0.0)


def test_firing_rate_is_sparse_but_nonzero():
    """Over a spread of synthetic docs the pointer heads should fire on
    a small, non-trivial fraction of positions (keeps extraction
    volumes realistic)."""
    m = get_model()
    rng = np.random.default_rng(0)
    words = ["spark", "join", "scan", "竞赛", "主办", "选手", "时间", "冠军"]
    texts = [
        "".join(rng.choice(words, size=20)) for _ in range(50)
    ]
    enc = encode_batch(["赛事名称"] * len(texts), texts)
    s, e = forward_bucketed(
        m, enc["input_ids"], enc["token_type_ids"], enc["attention_mask"]
    )
    frac = float(((s > 0.5).sum() + (e > 0.5).sum()) / (2 * s.size))
    assert 0.0005 < frac < 0.2, frac


def test_get_model_singleton():
    assert get_model(123) is get_model(123)


def test_tokenizer_offsets_shape():
    enc = encode_pair("p中", "text文")
    L = enc["input_ids"].shape[0]
    assert L == 1 + 2 + 1 + 5 + 1
    assert enc["offset_mapping"].shape == (L, 2)
    # prompt tokens offsets relative to prompt, text relative to text
    assert enc["offset_mapping"][1].tolist() == [0, 1]
    assert enc["offset_mapping"][4].tolist() == [0, 1]  # first text char
    assert enc["token_type_ids"].tolist() == [0, 0, 0, 0, 1, 1, 1, 1, 1, 1]


def test_tokenizer_truncates_long_text():
    enc = encode_pair("pp", "x" * 1000, max_seq_len=64)
    assert enc["input_ids"].shape[0] == 64


def test_blas_env_vars_deterministic_and_injected(spark, monkeypatch):
    """The kernel-env contract (round 6): blas_env_vars() is stable
    within a host (same coretype every call), single-threaded, and
    UIEEngine construction injects it into sc.environment so Python
    workers of ANY session (even one built by an external harness)
    load the same OpenBLAS kernels as the eager oracle process. The
    kernel family is the driver's CPU, so a non-local master gets the
    thread pins only."""
    from uie_pytorch_spark.core import blas_env_vars, preferred_blas_coretype
    from uie_pytorch_spark.engine import UIEEngine

    env1, env2 = blas_env_vars(), blas_env_vars()
    assert env1 == env2
    assert env1["OPENBLAS_NUM_THREADS"] == "1"
    ct = preferred_blas_coretype()
    if ct is not None:
        assert env1["OPENBLAS_CORETYPE"] == (os.environ.get("OPENBLAS_CORETYPE") or ct)

    sc = spark.sparkContext
    schema = {"subject entity": ["related fact"]}
    UIEEngine(spark, schema)
    for k, v in env1.items():
        assert sc.environment.get(k) == v

    monkeypatch.setattr(sc, "environment", {})
    monkeypatch.setattr(sc, "master", "spark://cluster:7077")
    UIEEngine(spark, schema)
    assert "OPENBLAS_CORETYPE" not in sc.environment
    for k, v in env1.items():
        if k != "OPENBLAS_CORETYPE":
            assert sc.environment.get(k) == v
