"""Kernel pinning: the eager oracle must reproduce the frozen golden
outputs byte-for-byte. Catches unintended changes to the shared
tokenizer/model/decode kernel that the engine-vs-oracle parity suite
cannot see (both sides share the kernel). Intentional kernel changes:
rerun scripts/freeze_goldens.py and commit the new goldens."""

from __future__ import annotations

import json
import os

import pytest

from oracle_uie import OracleUIE, flat_spans, golden_sort_key
from uie_pytorch_spark.sources.web_pages import generate_fixture_rows

GOLDENS = os.path.join(os.path.dirname(__file__), "goldens.json")

pytestmark = pytest.mark.frozen_kernel

SCHEMAS = {
    "entity": (["时间", "选手", "赛事名称"], "zh"),
    "relation": ({"竞赛名称": ["主办方", "承办方"]}, "zh"),
    "opinion": ({"评价维度": ["观点词", "情感倾向[正向，负向]"]}, "zh"),
    "en_relation": ({"Person": ["Company"]}, "en"),
}


@pytest.fixture(scope="module")
def goldens():
    with open(GOLDENS, encoding="utf-8") as f:
        return json.load(f)


@pytest.mark.parametrize("name", list(SCHEMAS))
def test_oracle_matches_frozen_goldens(goldens, name):
    schema, lang = SCHEMAS[name]
    texts = [r[3] for r in generate_fixture_rows(n_docs=24, seed=17)]
    spans = flat_spans(OracleUIE(schema, lang=lang).extract(texts))
    got = [list(s) for s in sorted(spans, key=golden_sort_key)]
    assert got == goldens[name]
