"""END-TO-END PARITY: the distributed engine must reproduce the eager
oracle's output EXACTLY (P/R = 1.0) — same kernel, same math, different
execution topology. This is the in-sandbox stand-in for "triples match
the reference at P/R >= 0.95" (BASELINE.json north_rule)."""

from __future__ import annotations

import pytest

from oracle_uie import OracleUIE, flat_spans, flat_triples
from uie_pytorch_spark.engine import UIEConfig, UIEEngine
from uie_pytorch_spark.sources.web_pages import generate_fixture_rows

SCHEMAS = {
    "entity": ["时间", "选手", "赛事名称"],
    "relation": {"竞赛名称": ["主办方", "承办方", "已举办次数"]},
    "event": {"地震触发词": ["地震强度", "时间", "震中位置", "震源深度"]},
    "opinion": {"评价维度": ["观点词", "情感倾向[正向，负向]"]},
    "sentence_cls": "情感倾向[正向，负向]",
    "cross_task": ["法院", {"原告": "委托代理人"}, {"被告": "委托代理人"}],
}


def _docs(spark, n=40, seed=7):
    rows = generate_fixture_rows(n_docs=n, seed=seed)
    texts = [r[3] for r in rows]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string"
    )
    return texts, df


def _spark_sets(engine_out):
    rows = engine_out.collect()
    spans = set()
    triples = set()
    for r in rows:
        spans.add(
            (
                r["doc_id"],
                r["node_path"],
                r["text"],
                r["start"],
                r["end"],
                round(r["prob"], 6),
            )
        )
        if r["parent_path"] is not None:
            triples.add(
                (
                    r["doc_id"],
                    r["parent_text"],
                    r["parent_start"],
                    r["parent_end"],
                    r["node_name"],
                    r["text"],
                    r["start"],
                    r["end"],
                )
            )
    return spans, triples


@pytest.mark.parametrize("name", list(SCHEMAS))
def test_engine_matches_oracle(spark, name):
    schema = SCHEMAS[name]
    texts, docs = _docs(spark, n=30, seed=11)

    oracle = OracleUIE(schema)
    oracle_results = oracle.extract(texts)
    o_spans = flat_spans(oracle_results)
    o_triples = flat_triples(oracle_results)

    engine = UIEEngine(spark, schema)
    out = engine.extract(docs)
    s_spans, s_triples = _spark_sets(out)

    assert s_spans == o_spans
    assert s_triples == o_triples


def test_engine_matches_oracle_english(spark):
    schema = {"Person": ["Company", "Position"]}
    texts, docs = _docs(spark, n=25, seed=3)
    oracle = OracleUIE(schema, lang="en")
    o_spans = flat_spans(oracle.extract(texts))
    engine = UIEEngine(spark, schema, UIEConfig(lang="en"))
    s_spans, _ = _spark_sets(engine.extract(docs))
    assert s_spans == o_spans


def test_engine_inference_dedup_is_transparent(spark):
    """Dedup of identical (prompt, chunk) pairs must not change any
    result — duplicated docs in the corpus included. Compares row
    MULTISETS: the join-back must attach each record exactly once per
    owner chunk (a set compare would mask duplicate inflation)."""
    from collections import Counter

    texts, _ = _docs(spark, n=12, seed=5)
    texts = texts + texts[:6]  # exact duplicates
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string"
    )
    # one child node, then three sharing one level (and its join-back)
    for schema in ({"竞赛名称": ["主办方"]}, SCHEMAS["relation"]):
        o = flat_spans(OracleUIE(schema).extract(texts))
        collected = UIEEngine(spark, schema).extract(docs).collect()
        rows = Counter(
            (r["doc_id"], r["node_path"], r["text"], r["start"], r["end"],
             r["parent_text"], r["parent_start"])
            for r in collected
        )
        assert max(rows.values()) == 1, "duplicate result rows emitted"
        got = {
            (r["doc_id"], r["node_path"], r["text"], r["start"], r["end"],
             round(r["prob"], 6))
            for r in collected
        }
        assert got == o


def test_level_jobs_do_not_grow_with_node_count(spark):
    """Every node of a schema level shares one stage: a level with three
    child nodes runs no more Spark jobs than a level with one."""
    _, docs = _docs(spark, n=30, seed=11)
    sc = spark.sparkContext
    jobs = {}
    for n, schema in ((1, {"竞赛名称": ["主办方"]}), (3, SCHEMAS["relation"])):
        group = f"level-jobs-{n}"
        sc.setJobGroup(group, group)
        try:
            engine = UIEEngine(spark, schema)
            engine.extract(docs).collect()
            engine.unpersist()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[n] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < jobs[3] <= jobs[1], jobs


def test_engine_long_docs_chunk_merge(spark):
    """Docs far beyond max_seq_len exercise chunk explode + offset
    shift; spans found in later chunks must carry document-level
    offsets that slice the original text exactly."""
    texts, docs = _docs(spark, n=20, seed=13)
    long_texts = [t * 4 for t in texts[:10]]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(long_texts)], "doc_id: long, text: string"
    )
    schema = ["赛事名称"]
    o = flat_spans(OracleUIE(schema).extract(long_texts))
    got = UIEEngine(spark, schema).extract(docs)
    s, _ = _spark_sets(got)
    assert s == o
    # slicing invariant: text[start:end] == span text
    for r in got.collect():
        if r["start"] is not None:
            assert long_texts[r["doc_id"]][r["start"] : r["end"]] == r["text"]


def test_engine_split_sentence_mode(spark):
    texts, docs = _docs(spark, n=15, seed=23)
    schema = ["时间"]
    o = flat_spans(OracleUIE(schema, split_sentence=True).extract(texts))
    s, _ = _spark_sets(
        UIEEngine(spark, schema, UIEConfig(split_sentence=True)).extract(docs)
    )
    assert s == o


def test_kernel_keeps_first_cls_answer_per_row(monkeypatch):
    """The kernel emits at most one classification answer per row, the
    first in decode order, and span records pass through unchanged."""
    from uie_pytorch_spark.core import infer
    from uie_pytorch_spark.core.model import get_model

    prompt = "positive or negative"  # answers sliced from the prompt
    # (start, end) < 0 are prompt-region offsets shifted by len(prompt)+1
    monkeypatch.setattr(
        infer,
        "decode_example",
        lambda *a, **k: [(-21, -13, 0.9), (0, 4, 0.8), (-9, -1, 0.7)],
    )
    out = infer.infer_decode_batch(get_model(), [prompt], ["good food"])
    assert out == [
        [
            {"text": "positive", "start": None, "end": None, "prob": 0.9,
             "is_cls": True},
            {"text": "good", "start": 0, "end": 4, "prob": 0.8,
             "is_cls": False},
        ]
    ]


def test_cls_vote_ties_and_mean_match_oracle(spark):
    """One-aggregate vote: count beats prob sum, sum breaks a count tie,
    the earliest chunk breaks a full tie; the probability is the mean
    of an in-chunk-order sum. Each winner equals the eager merge's."""
    from oracle_uie import _merge_example
    from uie_pytorch_spark.engine import _cls_vote

    answers = {  # ex_id -> [(pos, text, prob)] in chunk order
        1: [(0, "A", 0.9), (1, "B", 0.6), (2, "B", 0.1)],  # count wins
        2: [(0, "A", 0.6), (1, "B", 0.9)],  # sum breaks the count tie
        3: [(0, "B", 0.5), (1, "A", 0.5)],  # earliest chunk breaks the tie
        4: [(0, "C", 0.1), (1, "C", 0.2), (2, "C", 0.3)],  # mean, fold order
    }
    expected = {1: ("B", (0.6 + 0.1) / 2), 2: ("B", 0.9), 3: ("B", 0.5),
                4: ("C", (0.1 + 0.2 + 0.3) / 3)}
    rows = [
        (7, ex, pos, text, prob, f"p/n{ex}", f"n{ex}", "p", f"parent{ex}", ex,
         ex + 1, 0.5)
        for ex, recs in answers.items()
        for pos, text, prob in reversed(recs)  # the vote must sort by pos
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, ex_id long, pos int, text string, prob double, "
        "node_path string, node_name string, "
        "parent_path string, parent_text string, parent_start long, "
        "parent_end long, parent_prob double",
    )
    got = {r["ex_id"]: r for r in _cls_vote(df).collect()}
    assert sorted(got) == sorted(answers)
    for ex, recs in answers.items():
        r = got[ex]
        assert (r["text"], r["prob"]) == expected[ex]
        (merged,) = _merge_example(
            [[{"text": t, "prob": p, "is_cls": True}] for _, t, p in recs],
            [0] * len(recs),
        )
        assert (r["text"], r["prob"]) == (merged["text"], merged["probability"])
        assert (r["doc_id"], r["node_path"], r["node_name"], r["parent_path"],
                r["parent_text"], r["parent_start"], r["parent_end"],
                r["parent_prob"]) == (
            7, f"p/n{ex}", f"n{ex}", "p", f"parent{ex}", ex, ex + 1, 0.5)
