"""Tests for training-data compilation (A3-train/E1/E5/E7), nested
export (A6), and legacy doccano dialects (S3)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from refimport import load_reference_utils, requires_reference
from uie_pytorch_spark.operators import training as TR
from uie_pytorch_spark.sources import annotations as A

ref = load_reference_utils()


# ---------- A3 train-side window re-chunk vs reference reader ----------

def _ref_reader_rows(rows, max_seq_len, tmp_path):
    p = tmp_path / "train.jsonl"
    p.write_text(
        "\n".join(json.dumps(r, ensure_ascii=False) for r in rows),
        encoding="utf-8",
    )
    return list(ref.reader(str(p), max_seq_len=max_seq_len))


@requires_reference
@pytest.mark.parametrize("max_seq_len", [32, 48])
def test_rechunk_matches_reference_reader(spark, tmp_path, max_seq_len):
    content = "abcdefghij" * 8  # 80 chars
    rows = [
        {
            "content": content,
            "prompt": "实体",
            "result_list": [
                {"text": content[5:9], "start": 5, "end": 9},
                # span straddling the naive boundary -> boundary shifts left
                {"text": content[24:30], "start": 24, "end": 30},
                {"text": content[70:74], "start": 70, "end": 74},
            ],
        },
        {"content": "short", "prompt": "实体", "result_list": []},
    ]
    expected = [
        (r["content"], sorted((x["start"], x["end"]) for x in r["result_list"]))
        for r in _ref_reader_rows(rows, max_seq_len, tmp_path)
    ]

    df = spark.createDataFrame(
        [(r["content"], r["prompt"], [(x["text"], x["start"], x["end"]) for x in r["result_list"]]) for r in rows],
        TR.TRAIN_SCHEMA,
    )
    got = [
        (r["content"], sorted((x["start"], x["end"]) for x in (r["result_list"] or [])))
        for r in TR.rechunk_train_examples(df, max_seq_len).collect()
    ]
    assert sorted(got) == sorted(expected)


def test_rechunk_window_reconstructs_content(spark):
    content = "x" * 300
    df = spark.createDataFrame(
        [(content, "p", [])], TR.TRAIN_SCHEMA
    )
    rows = TR.rechunk_train_examples(df, 64).collect()
    assert "".join(r["content"] for r in rows) == content


# ---------- E1 label encoding ----------

def test_encode_train_examples_marks_token_positions(spark):
    df = spark.createDataFrame(
        [("深大到双龙28块钱", "出发地", [("深大", 0, 2)])], TR.TRAIN_SCHEMA
    )
    enc = TR.encode_train_examples(df, max_seq_len=32).collect()[0]
    bias = len("出发地") + 2
    assert enc["start_ids"][0 + bias] == 1
    assert enc["end_ids"][1 + bias] == 1
    assert sum(enc["start_ids"]) == 1 and sum(enc["end_ids"]) == 1
    assert len(enc["input_ids"]) == 32
    assert enc["attention_mask"][0] == 1


# ---------- E5 three-pool negatives ----------

def test_relation_train_negatives_pools(spark, tmp_path):
    rows = [
        {
            "id": 1,
            "text": "《告别了》是孙耀威的歌曲他在北京出生",
            "entities": [
                {"id": 51, "start_offset": 1, "end_offset": 4, "label": "作品名"},
                {"id": 52, "start_offset": 6, "end_offset": 9, "label": "人物名"},
                {"id": 53, "start_offset": 13, "end_offset": 15, "label": "地名"},
            ],
            "relations": [
                {"id": 20, "from_id": 51, "to_id": 52, "type": "歌手"}
            ],
        }
    ]
    p = tmp_path / "d.jsonl"
    p.write_text("\n".join(json.dumps(r, ensure_ascii=False) for r in rows))
    docs = A.read_doccano(spark, str(p))
    negs = TR.relation_train_negatives(docs, negative_ratio=9).collect()
    prompts = {r["prompt"] for r in negs}
    pools = {r["pool"] for r in negs}
    # no positive leaks in
    assert "告别了的歌手" not in prompts
    # pool caps respected: <= 3 per pool per doc (9 // 3)
    from collections import Counter

    per_pool = Counter(r["pool"] for r in negs)
    assert all(v <= 3 for v in per_pool.values())
    assert pools <= {1, 2, 3}
    assert all(r["result"] is None for r in negs)


# ---------- E7 aspect-cls examples ----------

def test_aspect_cls_examples_negative_offsets(spark, tmp_path):
    rows = [
        {
            "id": 7,
            "text": "店面干净，味道很好",
            "entities": [
                {"id": 1, "start_offset": 0, "end_offset": 2, "label": "店面##正向"}
            ],
            "relations": [],
        }
    ]
    p = tmp_path / "a.jsonl"
    p.write_text("\n".join(json.dumps(r, ensure_ascii=False) for r in rows))
    docs = A.read_doccano(spark, str(p))
    got = TR.aspect_cls_examples(docs).collect()
    assert len(got) == 1
    r = got[0]
    assert r["prompt"] == "店面的情感倾向[正向,负向]"
    res = r["result"]
    assert res["text"] == "正向"
    # the span lives in the prompt: slicing the prompt with the
    # reference's +len(prompt)+1 rebase must recover the answer
    plen = len(r["prompt"])
    s, e = res["start"] + plen + 1, res["end"] + plen + 1
    assert r["prompt"][s:e] == "正向"
    assert res["start"] < 0 and res["end"] < 0


# ---------- S3 legacy dialects ----------

def test_read_doccano_legacy_dialects(spark, tmp_path):
    lines = [
        # modern
        json.dumps(
            {
                "id": 1,
                "text": "modern row",
                "entities": [
                    {"id": 1, "start_offset": 0, "end_offset": 6, "label": "K"}
                ],
                "relations": [],
            }
        ),
        # legacy: data + bare label list
        json.dumps({"id": 2, "data": "legacy data row", "label": [[0, 6, "L"]]}),
        # legacy: text + label.entities
        json.dumps(
            {"id": 3, "text": "legacy ent row", "label": {"entities": [[7, 10, "M"]]}}
        ),
    ]
    p = tmp_path / "mix.jsonl"
    p.write_text("\n".join(lines), encoding="utf-8")
    got = {r["id"]: r for r in A.read_doccano_any(spark, str(p)).collect()}
    assert got[1]["entities"][0]["label"] == "K"
    assert got[2]["text"] == "legacy data row"
    assert (got[2]["entities"][0]["start_offset"], got[2]["entities"][0]["label"]) == (0, "L")
    assert (got[3]["entities"][0]["end_offset"], got[3]["entities"][0]["label"]) == (10, "M")


# ---------- A6 nested export ----------

def test_nested_export_roundtrip(spark):
    from uie_pytorch_spark.engine import UIEConfig, UIEEngine
    from uie_pytorch_spark.export import nested_results
    from uie_pytorch_spark.sources.web_pages import generate_fixture_rows

    texts = [r[3] for r in generate_fixture_rows(n_docs=20, seed=11)]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string"
    )
    spans = UIEEngine(spark, {"竞赛名称": ["主办方"]}, UIEConfig()).extract(docs)
    flat = spans.collect()
    root_rows = [r for r in flat if r["parent_path"] is None]
    child_rows = [r for r in flat if r["parent_path"] is not None]
    assert root_rows, "fixture corpus must produce root spans"

    out = {r["doc_id"]: json.loads(r["result_json"]) for r in nested_results(spans).collect()}
    # every flat root span appears in its doc's nested export
    for r in root_rows:
        doc = out[r["doc_id"]]
        assert "竞赛名称" in doc
        assert any(
            s["text"] == r["text"]
            and s.get("start") == r["start"]
            and s.get("end") == r["end"]
            for s in doc["竞赛名称"]
        )
    # every flat child span appears under its parent's relations
    for c in child_rows:
        doc = out[c["doc_id"]]
        parents = [
            s
            for s in doc[c["parent_path"]]
            if s["text"] == c["parent_text"]
            and s.get("start") == c["parent_start"]
            and s.get("end") == c["parent_end"]
        ]
        assert parents and any(
            ch["text"] == c["text"]
            for ch in parents[0]["relations"][c["node_name"]]
        )


def _flat_tuples(spans):
    from uie_pytorch_spark.engine import RESULT_COLS

    return [tuple(r[c] for c in RESULT_COLS) for r in spans.collect()]


def test_nested_export_matches_eager_renderer(spark):
    """Byte-equality of the Spark export against the INDEPENDENT
    plain-Python renderer (tests/eager_export.py) over the same flat
    rows — ordering, map-key sorting, null-field omission, and float
    rendering all included. This is what makes the frozen
    uie_nested_export golden independent of export.nested_results."""
    from eager_export import render_doc_json
    from uie_pytorch_spark.engine import UIEConfig, UIEEngine
    from uie_pytorch_spark.export import nested_results
    from uie_pytorch_spark.sources.web_pages import generate_fixture_rows

    texts = [r[3] for r in generate_fixture_rows(n_docs=30, seed=11)]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string"
    )
    spans = UIEEngine(
        spark, {"竞赛名称": ["主办方", "承办方"]}, UIEConfig()
    ).extract(docs)
    got = {
        r["doc_id"]: r["result_json"]
        for r in nested_results(spans, max_depth=2).collect()
    }
    want = dict(render_doc_json(_flat_tuples(spans)))
    assert got == want


def test_nested_export_depth3_engine_vs_oracle(spark):
    """Depth-3 schema (subject -> predicate -> qualifier): the engine's
    flat spans must match the eager oracle, depth-3 rows must exist,
    and the nested export must round-trip the third level — checked
    byte-for-byte against the independent renderer (max_depth left
    None to exercise the discovery path)."""
    import json

    from eager_export import render_doc_json
    from oracle_uie import OracleUIE, flat_spans
    from uie_pytorch_spark.engine import UIEConfig, UIEEngine
    from uie_pytorch_spark.export import nested_results
    from uie_pytorch_spark.sources.web_pages import generate_fixture_rows

    schema = {"竞赛名称": [{"主办方": ["时间"]}]}
    texts = [r[3] for r in generate_fixture_rows(n_docs=25, seed=11)]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id: long, text: string"
    )

    oracle_spans = flat_spans(OracleUIE(schema).extract(texts))
    spans = UIEEngine(spark, schema, UIEConfig()).extract(docs)
    s_spans = {
        (r["doc_id"], r["node_path"], r["text"], r["start"], r["end"],
         round(r["prob"], 6))
        for r in spans.collect()
    }
    assert s_spans == oracle_spans

    flat = _flat_tuples(spans)
    assert any(t[2].count("/") == 2 for t in flat), "no depth-3 spans found"

    got = {
        r["doc_id"]: r["result_json"]
        for r in nested_results(spans).collect()
    }
    want = dict(render_doc_json(flat))
    assert got == want

    # the third level is nested inside the second in at least one doc
    deep = [
        s
        for res in got.values()
        for spans_ in json.loads(res).values()
        for s in spans_
        for rel in s.get("relations", {}).values()
        for c in rel
        if c.get("relations")
    ]
    assert deep, "no depth-3 relations nested in the export"


def test_relation_class_report_suffix_grouping(spark):
    """F7 (reference utils.py:642-681): the relation class is the text
    after the LAST '的' — rsplit('的', 1) semantics — and predicates
    with no usable suffix (no '的', or '的' at the very end) fall back
    to the whole predicate string."""
    from uie_pytorch_spark.export import relation_class_report

    rows = [
        # multi-'的' name: class = after the LAST 的
        ("爱的故事的歌手", "A", 0.9),
        ("爱的故事的歌手", "B", 0.7),
        # single-'的': same class as above
        ("告别了的歌手", "A", 0.5),
        # no '的' at all: falls back to itself — which equals the
        # suffix class, so it groups WITH the rows above (exactly the
        # reference's rsplit behavior: '歌手'.rsplit('的',1) == ['歌手'])
        ("歌手", "C", 0.3),
        # no '的', distinct class
        ("出生地", "A", 1.0),
        # trailing '的' (suffix empty): falls back to the whole name
        ("所属的", "A", 0.4),
    ]
    triples = spark.createDataFrame(
        rows, "pred: string, subj_text: string, obj_prob: double"
    )
    got = {
        r["relation_class"]: (r["n_triples"], r["n_subjects"], r["mean_obj_prob"])
        for r in relation_class_report(triples).collect()
    }
    assert set(got) == {"歌手", "出生地", "所属的"}
    n, subj, mean = got["歌手"]
    assert (n, subj) == (4, 3)
    assert mean == pytest.approx((0.9 + 0.7 + 0.5 + 0.3) / 4)
    assert got["出生地"] == (1, 1, pytest.approx(1.0))
    assert got["所属的"] == (1, 1, pytest.approx(0.4))


def test_relation_train_negatives_leftover_topup(spark, tmp_path):
    """Reference top-up semantics (utils.py:1067-1075): when a pool is
    thin, leftovers from the other pools fill the total back up to
    negative_ratio * num_positives — so the per-doc total is
    min(negative_ratio * num_positives, union pool size)."""
    # one relation (np=1); pool3 is fat (5 entity labels not used as
    # predicates), pools 1-2 thin
    rows = [
        {
            "id": 1,
            "text": "《告别了》是孙耀威的歌曲他在北京的公司唱歌赚钱生活",
            "entities": [
                {"id": 51, "start_offset": 1, "end_offset": 4, "label": "作品名"},
                {"id": 52, "start_offset": 6, "end_offset": 9, "label": "人物名"},
                {"id": 53, "start_offset": 13, "end_offset": 15, "label": "地名"},
                {"id": 54, "start_offset": 16, "end_offset": 18, "label": "组织"},
                {"id": 55, "start_offset": 21, "end_offset": 23, "label": "活动"},
            ],
            "relations": [
                {"id": 20, "from_id": 51, "to_id": 52, "type": "歌手"}
            ],
        }
    ]
    p = tmp_path / "d.jsonl"
    p.write_text("\n".join(json.dumps(r, ensure_ascii=False) for r in rows))
    docs = A.read_doccano(spark, str(p))
    # pool sizes: pool1 = 1 (obj x 1 predicate), pool2 = 4 non-subject
    # entities x predicate, pool3 = 5 labels; caps at ratio//3=1 per
    # pool would give 3; top-up must reach ratio*np = 6
    negs = TR.relation_train_negatives(docs, negative_ratio=6).collect()
    assert len(negs) == 6
    from collections import Counter

    per_pool = Counter(r["pool"] for r in negs)
    # every pool contributed its cap (2*1 each) before top-up kicked in
    assert all(per_pool[k] >= min(2, {1: 1, 2: 4, 3: 5}[k]) for k in (1, 2, 3))


def test_relation_train_negatives_no_positives_takes_all(spark, tmp_path):
    """Docs with zero positive relations take ALL pool rows uncapped
    (reference utils.py:722-726 num_positive=0 branch)."""
    rows = [
        {
            "id": 2,
            "text": "孙耀威在北京唱歌",
            "entities": [
                {"id": 61, "start_offset": 0, "end_offset": 3, "label": "人物名"},
                {"id": 62, "start_offset": 4, "end_offset": 6, "label": "地名"},
            ],
            "relations": [],
        }
    ]
    p = tmp_path / "d2.jsonl"
    p.write_text("\n".join(json.dumps(r, ensure_ascii=False) for r in rows))
    docs = A.read_doccano(spark, str(p))
    negs = TR.relation_train_negatives(docs, negative_ratio=3).collect()
    # no relations -> no predicates -> pools 1-3 all empty here; build a
    # doc-level invariant instead: the call must not throw and must
    # return 0 rows (pool construction needs predicates)
    assert negs == []


@requires_reference
def test_rechunk_long_cls_example_matches_reference(spark, tmp_path):
    """ADVICE r1: prompt-anchored cls answers (negative offsets) must
    be copied into EVERY window un-shifted when content exceeds the
    window — compared directly against the reference reader."""
    content = "质量很好，味道不错，店面干净。" * 12  # 180 chars
    prompt = "店面的情感倾向[正向,负向]"
    row = {
        "content": content,
        "prompt": prompt,
        "result_list": [{"text": "正向", "start": -9, "end": -7}],
    }
    max_seq_len = 64
    expected = _ref_reader_rows([row], max_seq_len, tmp_path)
    df = spark.createDataFrame(
        [(content, prompt, [("正向", -9, -7)])], TR.TRAIN_SCHEMA
    )
    got = sorted(
        (r["content"], tuple(sorted((x["start"], x["end"]) for x in r["result_list"])))
        for r in TR.rechunk_train_examples(df, max_seq_len).collect()
    )
    exp = sorted(
        (r["content"], tuple(sorted((x["start"], x["end"]) for x in r["result_list"])))
        for r in expected
    )
    assert got == exp
    # every window carries the un-shifted prompt-anchored answer
    assert all(spans == ((-9, -7),) for _, spans in got)
