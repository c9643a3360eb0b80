"""Operator-level tests: annotations pipeline, metrics, dedup
behaviors not covered by the oracle harness."""

from __future__ import annotations

import json
from contextlib import ExitStack

import pytest
from pyspark.sql import functions as F

from uie_pytorch_spark.operators import dedup as D
from uie_pytorch_spark.operators import metrics as M
from uie_pytorch_spark.sources import annotations as A

DOCCANO_ROWS = [
    {
        "id": 38,
        "text": "《告别了》是孙耀威在专辑爱的故事里面的歌曲",
        "entities": [
            {"id": 51, "start_offset": 1, "end_offset": 4, "label": "作品名"},
            {"id": 52, "start_offset": 6, "end_offset": 9, "label": "人物名"},
        ],
        "relations": [{"id": 20, "from_id": 51, "to_id": 52, "type": "歌手"}],
    },
    {
        "id": 39,
        "text": "地震发生在昨天晚上",
        "entities": [
            {"id": 60, "start_offset": 0, "end_offset": 2, "label": "触发词"}
        ],
        "relations": [],
    },
]


@pytest.fixture(scope="module")
def doccano_df(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("doccano") / "ext.jsonl"
    p.write_text(
        "\n".join(json.dumps(r, ensure_ascii=False) for r in DOCCANO_ROWS),
        encoding="utf-8",
    )
    return A.read_doccano(spark, str(p))


def test_entity_examples(doccano_df):
    rows = {
        (r["doc_id"], r["prompt"], r["result"]["text"], r["result"]["start"])
        for r in A.entity_examples(doccano_df).collect()
    }
    assert (38, "作品名", "告别了", 1) in rows
    assert (38, "人物名", "孙耀威", 6) in rows
    assert (39, "触发词", "地震", 0) in rows


def test_relation_examples_double_join(doccano_df):
    rows = A.relation_examples(doccano_df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["prompt"] == "告别了的歌手"
    assert r["result"]["text"] == "孙耀威"
    assert (r["result"]["start"], r["result"]["end"]) == (6, 9)


def test_entity_negatives_capped_and_absent(doccano_df):
    negs = A.entity_negatives(doccano_df, negative_ratio=5).collect()
    # negatives only use labels absent from the doc
    for r in negs:
        if r["doc_id"] == 38:
            assert r["prompt"] == "触发词"
        if r["doc_id"] == 39:
            assert r["prompt"] in ("作品名", "人物名")
    assert all(r["result"] is None for r in negs)


def test_relation_full_negatives(doccano_df):
    negs = {
        (r["doc_id"], r["prompt"])
        for r in A.relation_full_negatives(doccano_df).collect()
    }
    # subject x predicate universe minus the one positive
    assert (38, "孙耀威的歌手") in negs
    assert (38, "告别了的歌手") not in negs


def test_labelstudio_conversion(spark, tmp_path):
    export = [
        {
            "id": 1,
            "data": {"text": "Alice joined Acme."},
            "annotations": [
                {
                    "result": [
                        {
                            "value": {
                                "start": 0,
                                "end": 5,
                                "labels": ["Person"],
                            }
                        },
                        {
                            "value": {
                                "start": 13,
                                "end": 17,
                                "labels": ["Org"],
                            }
                        },
                    ]
                }
            ],
        }
    ]
    p = tmp_path / "ls.json"
    p.write_text(json.dumps(export), encoding="utf-8")
    got = A.labelstudio_to_doccano(spark, str(p)).collect()
    assert len(got) == 1
    ents = sorted(
        (e["start_offset"], e["end_offset"], e["label"])
        for e in got[0]["entities"]
    )
    assert ents == [(0, 5, "Person"), (13, 17, "Org")]


def test_span_prf(spark):
    pred = spark.createDataFrame(
        [(1, "p", 0, 2), (1, "p", 5, 9), (2, "p", 1, 3)],
        "doc_id: long, prompt: string, start: long, end: long",
    )
    gold = spark.createDataFrame(
        [(1, "p", 0, 2), (2, "p", 4, 6)],
        "doc_id: long, prompt: string, start: long, end: long",
    )
    r = M.span_prf(pred, gold).collect()[0]
    assert (r["num_correct"], r["num_infer"], r["num_label"]) == (1, 3, 2)
    assert r["precision"] == pytest.approx(1 / 3)
    assert r["recall"] == pytest.approx(1 / 2)
    assert r["f1"] == pytest.approx(2 * (1 / 3) * 0.5 / (1 / 3 + 0.5))


def test_exact_dedup_finds_duplicates(spark):
    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")],
        "doc_id: long, text: string",
    )
    groups = D.exact_dup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0]["n_dups"] == 2
    assert groups[0]["canonical_doc_id"] == 1


def test_minhash_lsh_groups_near_duplicates(spark):
    base = "the quick brown fox jumps over the lazy dog " * 3
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + "extra tail!"),     # near-dup
            (3, "completely different content about spark engines"),
        ],
        "doc_id: long, text: string",
    )
    sig = D.minhash_sig_array(docs)
    pairs = {
        (r["doc_a"], r["doc_b"]) for r in D.lsh_candidate_pairs(sig).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs
    # long format is exactly the exploded array signature
    long = D.minhash_signature(docs).collect()
    arr = {r["doc_id"]: r["sig"] for r in sig.collect()}
    assert len(long) == 3 * 12
    for r in long:
        assert arr[r["doc_id"]][r["perm"]] == r["minhash"]


def test_near_dup_canonical_mirror_cluster_precollapse(spark):
    """The web-scale hazard case: ONE content mirrored 1,000 times
    (mirror crawls). The exact pre-collapse must (a) keep the near-dup
    tier linear — the LSH candidate set over collapsed representatives
    is O(#distinct contents), not O(m^2) — and (b) still canonicalize
    every copy (and the near-dup variant) to the cluster's min doc id."""
    base = "the quick brown fox jumps over the lazy dog " * 4
    rows = [(i, base) for i in range(1000)]          # mirror cluster
    rows.append((2000, base + " near dup tail"))     # near-dup of it
    rows.append((3000, "entirely different page about spark internals"))
    docs = spark.createDataFrame(rows, "doc_id: long, text: string")

    # candidate generation runs on one representative per content:
    # exactly ONE pair (mirror-rep, near-dup) + nothing quadratic
    reps = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id", "text"
    )
    cands = D.lsh_candidate_pairs(D.minhash_sig_array(reps)).collect()
    assert len(cands) == 1 and (cands[0]["doc_a"], cands[0]["doc_b"]) == (0, 2000)

    res = D.near_dup_canonical(docs, threshold=0.5)
    assert res.columns == ["doc_id", "text", "canonical_doc_id"]
    got = res.collect()
    assert sorted((r["doc_id"], r["text"]) for r in got) == sorted(rows)
    out = {r["doc_id"]: r["canonical_doc_id"] for r in got}
    assert len(out) == 1002
    for i in range(1000):
        assert out[i] == 0          # every mirror copy -> min doc id
    assert out[2000] == 0           # near-dup joins the cluster
    assert out[3000] == 3000        # unrelated doc maps to itself


def test_near_dup_canonical_bucket_cap_equivalence(spark):
    """On the driver fixture (template-generated docs -> heavy
    boilerplate-family structure, the cap's target case) the bucket cap
    changes NOTHING in the canonical mapping: members of oversized
    buckets still connect through smaller buckets in other bands, so
    the cap only removes redundant pair generation. Measured at sf0.1:
    identical output, 99 s -> 18 s (cap=16)."""
    docs = (
        spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        .select("doc_id", "lang", "text")
        .filter(F.col("doc_id") < 250)
    )
    res = D.near_dup_canonical(docs, threshold=0.5)
    assert res.columns == ["doc_id", "lang", "text", "canonical_doc_id"]
    assert res.drop("canonical_doc_id").exceptAll(docs).isEmpty()
    full = {r["doc_id"]: r["canonical_doc_id"] for r in res.collect()}
    assert len(full) == 250
    capped = {
        r["doc_id"]: r["canonical_doc_id"]
        for r in D.near_dup_canonical(
            docs, threshold=0.5, max_bucket_size=16
        ).collect()
    }
    assert capped == full


def test_lsh_bucket_cap_drops_oversized_buckets(spark):
    """max_bucket_size: a band bucket with more members than the cap
    contributes no pairs (boilerplate-family backstop); buckets at or
    under the cap are unaffected."""
    sig_rows = [(i, [1, 1, 1, 2, 2, 2, 3, 3, 3, 4, 4, 4]) for i in range(10)]
    sig_rows += [(100, [9, 9, 9, 8, 8, 8, 7, 7, 7, 6, 6, 6]),
                 (101, [9, 9, 9, 8, 8, 8, 7, 7, 7, 6, 6, 6])]
    sig = spark.createDataFrame(sig_rows, "doc_id: long, sig: array<bigint>")
    uncapped = D.lsh_candidate_pairs(sig).collect()
    assert len(uncapped) == 10 * 9 // 2 + 1
    capped = D.lsh_candidate_pairs(sig, max_bucket_size=5).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in capped} == {(100, 101)}


def test_engine_ops_metrics_accumulators(spark):
    from uie_pytorch_spark.engine import UIEConfig, UIEEngine

    docs = spark.createDataFrame(
        [(i, "2022语言与智能技术竞赛由中国中文信息学会主办。") for i in range(8)],
        "doc_id: long, text: string",
    )
    eng = UIEEngine(spark, ["竞赛名称"], UIEConfig())
    n_spans = eng.extract(docs).count()
    m = eng.metrics
    # dedupe collapses 8 identical docs to ONE model input
    assert m["inference_rows"] == 1
    assert m["decoded_spans"] * 8 >= n_spans  # spans fan back out via join


def test_engine_unpersist_releases_every_extract(spark):
    """The engine owns the caches of EVERY extract() call: a second
    call must not orphan the first call's persisted stages."""
    from uie_pytorch_spark.engine import UIEEngine

    # RDD ids, not a count: the JVM holds persisted RDDs weakly, so
    # ones leaked by earlier tests can vanish mid-test
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    def docs(text):
        return spark.createDataFrame(
            [(i, text) for i in range(3)], "doc_id: long, text: string"
        )

    before = persisted()
    eng = UIEEngine(spark, {"竞赛名称": ["主办方"]})
    # different inputs, so the two calls' cached plans are distinct
    first = eng.extract(docs("2022语言与智能技术竞赛由中国中文信息学会主办。"))
    second = eng.extract(docs("全国大学生数学建模竞赛由中国工业与应用数学学会主办。"))
    first.count()
    second.count()
    ours = persisted() - before
    assert ours
    eng.unpersist()
    assert not persisted() & ours


def test_jaccard_candidates_pushdown_matches_allpairs(spark):
    """The candidate-pair fast path (pair-list joined to per-doc
    shingle sets, no all-pairs blow-up) must agree exactly with the
    all-pairs branch restricted to those candidates — including inter /
    size columns, and candidate pairs with zero shared shingles must
    vanish in both. So must a pair of NULL texts, a pair with an empty
    text, and a pair naming a doc that is not in ``docs``."""
    docs = spark.createDataFrame(
        [
            (1, "abcdefghij"),
            (2, "abcdefgXij"),
            (3, "abcdefghij-tail"),
            (4, "zzzzzzzzzz"),
            (5, "qqqqq"),
            (6, None),
            (7, None),
            (8, ""),
        ],
        "doc_id: long, text: string",
    )
    pairs = [(1, 2), (1, 3), (2, 3), (1, 4), (4, 5), (6, 7), (5, 8), (1, 99)]
    cands = spark.createDataFrame(pairs, "doc_a: long, doc_b: long")
    allp = {
        (r["doc_a"], r["doc_b"], r["inter"], r["sz_a"], r["sz_b"])
        for r in D.jaccard_pairs(docs, threshold=0.0).collect()
    }
    expected = {t for t in allp if (t[0], t[1]) in set(pairs)}
    got = {
        (r["doc_a"], r["doc_b"], r["inter"], r["sz_a"], r["sz_b"])
        for r in D.jaccard_pairs(docs, threshold=0.0, candidates=cands).collect()
    }
    assert got == expected
    # no shared shingle, NULL texts, empty text, missing doc
    assert not {(a, b) for (a, b, *_s) in got} & {(4, 5), (6, 7), (5, 8), (1, 99)}


def test_xxh64_matches_spark(spark):
    """tests/xxh64.py (pure-Python XXH64, seed 42) must agree with
    Spark's xxhash64() on strings — the eager KG oracle relies on it
    to reproduce engine ids without Spark."""
    from xxh64 import xxh64_str

    samples = [
        "", "a", "abc", "1234567", "12345678", "123456789012345",
        "exactly-32-bytes-string-here-ok!", "北京 清华大学", "ＡＢＣ　ｄｅｆ",
        "x" * 31, "y" * 32, "z" * 33, "w" * 100, "長い日本語のテキスト" * 7,
    ]
    df = spark.createDataFrame([(s,) for s in samples], "s: string")
    from pyspark.sql import functions as F

    got = {r["s"]: r["h"] for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for s in samples:
        assert got[s] == xxh64_str(s), repr(s)


def test_ivf_topk_recall_and_exhaustive_equivalence(spark):
    """IVF-Flat: probing MORE lists is monotone in recall, and probing
    ALL lists (n_probe = n_centroids) degenerates to the exact
    brute-force top-k — the candidate union is then the whole corpus,
    so any difference would be a rerank bug."""
    from uie_pytorch_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.select("vec_id").filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in S.topk_by_dot(emb, q, k=5).collect()
    }

    def got(n_probe):
        return {
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in S.ivf_topk(
                emb, q, k=5, n_centroids=16, n_probe=n_probe
            ).collect()
        }

    nbrs = lambda s: {(a, b) for a, b, _ in s}  # noqa: E731
    r1 = len(nbrs(got(1)) & nbrs(exact)) / len(nbrs(exact))
    r4 = len(nbrs(got(4)) & nbrs(exact)) / len(nbrs(exact))
    assert r1 <= r4
    assert got(16) == exact  # exhaustive probe == brute force, ranks too
    assert got(4) == got(4)  # deterministic


def test_ivf_topk_with_sparkml_kmeans_quantizer(spark):
    """The pluggable-quantizer seam with REAL pyspark.ml KMeans
    centers: ivf_topk accepts the trained centroids as (vec_id,
    embedding), returns full top-k per query, is deterministic, and
    reaches usable recall on this corpus (measured 0.59; random
    embeddings + dot-based list assignment of L2-trained centers —
    the production pairing would train/assign consistently)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from uie_pytorch_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.select("vec_id").filter(F.col("vec_id") < 20)
    feat = emb.select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias(
            "features"
        ),
    )
    km = KMeans(k=16, seed=7, maxIter=20).fit(feat)
    centers = spark.createDataFrame(
        [(int(i), [float(x) for x in c])
         for i, c in enumerate(km.clusterCenters())],
        "vec_id: long, embedding: array<double>",
    )
    out = S.ivf_topk(emb, q, k=5, n_centroids=16, n_probe=4,
                     centroids=centers)
    rows = out.collect()
    assert len(rows) == 20 * 5  # full top-k per query
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.topk_by_dot(emb, q, k=5).collect()
    }
    got = {(r["query_id"], r["neighbor_id"]) for r in rows}
    assert len(got & exact) / len(exact) > 0.4
    assert got == {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(
            emb, q, k=5, n_centroids=16, n_probe=4, centroids=centers
        ).collect()
    }

    # L2-consistent assignment (the correct pairing for L2-trained
    # KMeans centers): recall must match or beat dot-based assignment
    # of the same centers, at the same probe budget
    l2 = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(
            emb, q, k=5, n_centroids=16, n_probe=4, centroids=centers,
            assign_metric="l2",
        ).collect()
    }
    r_dot = len(got & exact) / len(exact)
    r_l2 = len(l2 & exact) / len(exact)
    assert r_l2 >= r_dot, (r_l2, r_dot)
    with pytest.raises(ValueError, match="assign_metric"):
        S.ivf_topk(emb, q, assign_metric="cosine")


def test_srp_multiprobe_improves_recall(spark):
    """Multi-probe SRP (flip one sign bit) must return a superset of
    the single-probe neighbor sets and strictly improve recall vs the
    exact brute-force top-k on this corpus."""
    from uie_pytorch_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.select("vec_id").filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.topk_by_dot(emb, q, k=5).collect()
    }
    def got(probes):
        return {
            (r["query_id"], r["neighbor_id"])
            for r in S.srp_topk(emb, q, k=5, planes=6, probes=probes).collect()
        }
    g0, g3, g6 = got(0), got(3), got(6)
    r0 = len(g0 & exact) / len(exact)
    r3 = len(g3 & exact) / len(exact)
    r6 = len(g6 & exact) / len(exact)
    # monotone recall curve; on these STRUCTURELESS random embeddings
    # absolute recall is inherently low (true top-k spread over all
    # buckets) — the assertion is the probe mechanism's lift, measured
    # 0.06 -> 0.19 -> 0.26 on this corpus
    assert r0 <= r3 <= r6
    assert r6 >= 3 * r0 and r6 >= 0.15
    # determinism
    assert got(3) == got(3)


def test_band_hashes_rejects_uneven_bands(spark):
    """k % bands != 0 would silently drop tail permutations from every
    band (a hidden recall change) — it must raise instead."""
    sig = spark.createDataFrame(
        [(1, list(range(12)))], "doc_id: long, sig: array<bigint>"
    )
    with pytest.raises(ValueError, match="not divisible"):
        D.band_hashes(sig, k=12, bands=5)
    with pytest.raises(ValueError, match="not divisible"):
        D.lsh_candidate_pairs(sig, k=12, bands=5)


def test_near_dup_canonical_null_text_self_maps(spark):
    """NULL-text docs must each map to THEMSELVES: md5(NULL) is NULL
    for every such row, so a naive content-hash key would collapse all
    null-text docs into one bogus cluster."""
    rows = [(1, "identical page body", "a"), (2, "identical page body", "b"),
            (10, None, "c"), (11, None, "d"), (12, None, "e")]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string, url: string")
    got = D.near_dup_canonical(docs, threshold=0.5).collect()
    # every input row comes back whole, canonical_doc_id appended
    assert sorted(tuple(r)[:3] for r in got) == rows
    assert all(len(r) == 4 for r in got)
    out = {r["doc_id"]: r["canonical_doc_id"] for r in got}
    assert out[1] == 1 and out[2] == 1       # exact dups collapse
    assert out[10] == 10 and out[11] == 11 and out[12] == 12


def test_near_dup_canonical_releases_its_checkpoints(spark):
    """The content groups and connected_components' last round are the
    two checkpoints the result reads; both are released when ``held``
    is closed."""
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    body = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(1, body), (2, body), (3, body + " again"), (4, "unrelated page")],
        "doc_id: long, text: string",
    )
    before = persisted()
    with ExitStack() as held:
        res = D.near_dup_canonical(docs, threshold=0.5, held=held)
        assert len(persisted() - before) == 2
        assert {r["doc_id"]: r["canonical_doc_id"] for r in res.collect()} == {
            1: 1, 2: 1, 3: 1, 4: 4,
        }
    assert persisted() <= before


def test_lsh_bucket_cap_observation_reports_drops(spark):
    """Capped candidate generation is observable: the SAME action that
    consumes the pairs records how many buckets / member rows the cap
    removed (in-plan observe — no extra job)."""
    from pyspark.sql import Observation

    # one 10-doc bucket family (over the cap) + one pair (under it)
    sig_rows = [(i, [1, 1, 1, 2, 2, 2, 3, 3, 3, 4, 4, 4]) for i in range(10)]
    sig_rows += [(100, [9, 9, 9, 8, 8, 8, 7, 7, 7, 6, 6, 6]),
                 (101, [9, 9, 9, 8, 8, 8, 7, 7, 7, 6, 6, 6])]
    sig = spark.createDataFrame(sig_rows, "doc_id: long, sig: array<bigint>")
    obs = Observation("lsh-drops")
    pairs = D.lsh_candidate_pairs(sig, max_bucket_size=5, observation=obs)
    assert {(r["doc_a"], r["doc_b"]) for r in pairs.collect()} == {(100, 101)}
    got = obs.get
    # the 10-doc family fills one oversized bucket in each of 4 bands
    assert got["dropped_buckets"] == 4
    assert got["dropped_member_rows"] == 40


def test_canonical_url_mirror_equivalence(spark):
    """Urls differing only in tracking noise / case / www / fragment /
    trailing slash canonicalize EQUAL — the property url-level dedup
    needs; genuinely different resources stay distinct."""
    from uie_pytorch_spark.sources.web_pages import canonical_url

    rows = [
        (1, "https://example.com/a/b?id=7"),
        (2, "HTTPS://WWW.Example.COM/a/b?utm_source=x&id=7#frag"),
        (3, "https://example.com/a/b/?id=7&utm_campaign=y"),
        (4, "https://example.com/a/b?id=8"),          # different resource
        (5, "http://example.com/a/b?id=7"),           # different scheme
        (6, "https://example.com/a/b?sort=asc"),      # non-tracking param
        (7, "https://example.com/a/b?utm_x=1"),       # ONLY tracking params
    ]
    df = spark.createDataFrame(rows, "doc_id: long, url: string")
    got = {
        r["doc_id"]: r["c"]
        for r in df.select(
            "doc_id", canonical_url(F.col("url")).alias("c")
        ).collect()
    }
    assert got[1] == got[2] == "https://example.com/a/b?id=7"
    assert got[3] == got[1]
    assert got[4] != got[1] and got[5] != got[1]
    # non-tracking params survive; all-tracking query strips cleanly
    assert got[6] == "https://example.com/a/b?sort=asc"
    assert got[7] == "https://example.com/a/b"


def test_redact_pii_counts_and_order(spark):
    """Emails are redacted BEFORE phone matching, so an email's digits
    never double-count as a phone; counts reflect the original text."""
    from uie_pytorch_spark.operators.textstats import redact_pii

    rows = [
        (1, "write to alice.smith+x@corp-mail.co.uk or call +44 20 7946 0958"),
        (2, "digits 12345678901 inline and user99@mail.example.com"),
        (3, "clean text with no pii at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert (got[1]["n_emails"], got[1]["n_phones"]) == (1, 1)
    assert "<EMAIL>" in got[1]["text_redacted"]
    assert "<PHONE>" in got[1]["text_redacted"]
    assert "alice" not in got[1]["text_redacted"]
    assert (got[2]["n_emails"], got[2]["n_phones"]) == (1, 1)
    assert got[3]["text_redacted"] == rows[2][1]


def test_repetition_stats_known_values(spark):
    """dup_token_ratio / top_token_frac on hand-computable docs."""
    from uie_pytorch_spark.operators.textstats import repetition_stats

    rows = [
        (1, "spam spam spam eggs"),       # 4 toks, 2 distinct, top=spam 3/4
        (2, "all unique words here"),     # 4/4 distinct
        (3, ""),                          # no tokens -> absent
    ]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    got = {r["doc_id"]: r for r in repetition_stats(df).collect()}
    assert set(got) == {1, 2}
    assert got[1]["n_tokens"] == 4 and got[1]["n_distinct"] == 2
    assert abs(got[1]["dup_token_ratio"] - 0.5) < 1e-12
    assert got[1]["top_token"] == "spam"
    assert abs(got[1]["top_token_frac"] - 0.75) < 1e-12
    assert got[2]["dup_token_ratio"] == 0.0
    # deterministic tie-break: equal tf -> lexicographically smallest
    assert got[2]["top_token"] == "all"


def test_asof_join_semantics(spark):
    """Hand-computable as-of join: latest-at-or-before per key, tie at
    equal time matches, no-prior-row keeps nulls, tolerance nulls out
    stale matches, clashing column names get the suffix."""
    from uie_pytorch_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 5, "a"), (1, 8, "b"), (1, 2, "c"), (2, 7, "d"), (3, 9, "e")],
        "k: long, ts: long, v: string",
    )
    right = spark.createDataFrame(
        [(1, 3, 30), (1, 8, 80), (2, 1, 10)],
        "k: long, ts: long, state: long",
    )
    got = {
        r["v"]: (r["ts_right"], r["state"])
        for r in asof_join(left, right, on="ts", by="k").collect()
    }
    assert got["a"] == (3, 30)      # latest at-or-before 5 is ts=3
    assert got["b"] == (8, 80)      # tie at 8 matches (>= semantics)
    assert got["c"] == (None, None)  # nothing at-or-before 2
    assert got["d"] == (1, 10)
    assert got["e"] == (None, None)  # key 3 has no right rows at all
    # row count preserved (left join), no duplication from the union
    assert asof_join(left, right, on="ts", by="k").count() == 5

    # tolerance: d's match is 6 units old -> nulled at tolerance=5
    tol = {
        r["v"]: r["state"]
        for r in asof_join(
            left, right, on="ts", by="k", tolerance=5
        ).collect()
    }
    assert tol["a"] == 30 and tol["b"] == 80 and tol["d"] is None


def test_range_join_bucketed_semantics(spark):
    """Hand-computable interval join: containment is half-open
    [start, end), keys separate users, intervals spanning a bucket
    boundary still catch points in every bucket they overlap, and no
    (point, interval) pair is ever duplicated."""
    from uie_pytorch_spark.operators.temporal import range_join_bucketed

    points = spark.createDataFrame(
        [(1, 1, 100), (2, 1, 999), (3, 1, 1000), (4, 1, 1500),
         (5, 2, 100), (6, 1, 2500)],
        "event_id: long, user_id: long, ts: long",
    )
    # bucket=1000: win A [50, 1200) spans buckets 0-1; win B [1400, 1600)
    wins = spark.createDataFrame(
        [("A", 1, 50, 1200), ("B", 1, 1400, 1600)],
        "win_id: string, user_id: long, w_start: long, w_end: long",
    )
    got = sorted(
        (r["win_id"], r["event_id"])
        for r in range_join_bucketed(
            points, wins, point_ts="ts", start="w_start", end="w_end",
            by="user_id", bucket=1000,
        ).collect()
    )
    # A: ts 100, 999 (bucket 0) and 1000 (bucket 1, < 1200); NOT user 2
    # B: ts 1500 only; 2500 matches nothing; end is exclusive
    assert got == [("A", 1), ("A", 2), ("A", 3), ("B", 4)]

    clash = points.withColumn("__bin", F.lit(1))
    with pytest.raises(ValueError, match="reserved"):
        range_join_bucketed(clash, wins, by="user_id")


def test_salted_group_stats_matches_plain_groupby(spark):
    """The salted two-phase aggregation must be EXACTLY the plain
    groupBy (algebraic sums), at any salt width."""
    from uie_pytorch_spark.operators.textstats import salted_group_stats

    docs = spark.createDataFrame(
        [(i, f"s{i % 3}", 10 + i) for i in range(100)],
        "doc_id: long, source: string, n_chars: long",
    )
    for buckets in (1, 8):
        got = {
            r["source"]: (r["n_docs"], r["total_chars"], r["avg_chars"],
                          r["corpus_share"])
            for r in salted_group_stats(docs, salt_buckets=buckets).collect()
        }
        plain = {
            r["source"]: (r["n"], r["tc"])
            for r in docs.groupBy("source")
            .agg(F.count("*").alias("n"), F.sum("n_chars").alias("tc"))
            .collect()
        }
        assert set(got) == set(plain)
        for s, (n, tc) in plain.items():
            gn, gtc, avg, share = got[s]
            assert (gn, gtc) == (n, tc)
            assert abs(avg - tc / n) < 1e-9
            assert abs(share - n / 100) < 1e-9


def test_hash_split_deterministic_and_complete(spark):
    """Every row gets exactly one split; assignment is stable across
    partitionings; changing the seed reshuffles."""
    from uie_pytorch_spark.operators.textstats import hash_split

    docs = spark.createDataFrame(
        [(i,) for i in range(500)], "doc_id: long"
    )
    a = {r["doc_id"]: r["split"] for r in hash_split(docs).collect()}
    b = {
        r["doc_id"]: r["split"]
        for r in hash_split(docs.repartition(7)).collect()
    }
    assert a == b
    assert set(a.values()) == {"train", "val", "test"}
    n_train = sum(1 for v in a.values() if v == "train")
    assert 0.7 * 500 < n_train < 0.9 * 500  # ~80%
    c = {r["doc_id"]: r["split"] for r in hash_split(docs, seed="v2").collect()}
    assert a != c


def test_asof_join_input_validation(spark):
    """Misuse fails loudly: a reserved working-column collision and
    on∈by both raise instead of silently corrupting the join."""
    import pytest as _pytest

    from uie_pytorch_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, 5)], "k: long, ts: long")
    right = spark.createDataFrame([(1, 3, 30)], "k: long, ts: long, s: long")
    with _pytest.raises(ValueError, match="'by' key"):
        asof_join(left, right, on="ts", by=["k", "ts"])
    clash = left.withColumn("__tag", F.lit(1))
    with _pytest.raises(ValueError, match="reserved"):
        asof_join(clash, right, on="ts", by="k")


def test_sessionize_gap_semantics(spark):
    """Hand-computable sessions: gap > threshold starts a new session;
    ids are dense 1-based per key; tiebreak makes order total."""
    from uie_pytorch_spark.operators.temporal import sessionize

    rows = [
        (1, 1, 0), (2, 1, 100), (3, 1, 2000),   # 100->2000 gap=1900 > 1800
        (4, 1, 3000), (5, 2, 50),
    ]
    df = spark.createDataFrame(rows, "event_id: long, user_id: long, ts: long")
    got = {
        r["event_id"]: (r["session_start"], r["session_id"])
        for r in sessionize(
            df, on="ts", by="user_id", gap=1800, order_tiebreak="event_id"
        ).collect()
    }
    assert got[1] == (1, 1) and got[2] == (0, 1)
    assert got[3] == (1, 2)            # 1900s gap -> new session
    assert got[4] == (0, 2)            # 1000s gap -> same session
    assert got[5] == (1, 1)            # other user starts at 1


def test_cdc_segments_shift_invariance(spark):
    """The CDC property: a shared text region produces IDENTICAL
    segment hashes regardless of its offset in the document — a
    prefix insertion only perturbs the segments it touches. (A
    fixed-width chunker shares ~nothing after a 17-char shift.)"""
    import random

    rng = random.Random(7)
    words = ["alpha", "bravo", "china", "delta", "echos", "foxtr",
             "golfy", "hotel", "indía", "julie"]
    shared = " ".join(rng.choice(words) for _ in range(120))  # ~700 chars
    docs = spark.createDataFrame(
        [(1, shared), (2, "unrelated prefix " + shared)],
        "doc_id: long, text: string",
    )
    segs = D.cdc_segments(docs).collect()
    h1 = {r["seg_hash"] for r in segs if r["doc_id"] == 1}
    h2 = {r["seg_hash"] for r in segs if r["doc_id"] == 2}
    # everything but the first segment (prefix-perturbed) realigns
    overlap = len(h1 & h2) / len(h1)
    assert overlap >= 0.8, overlap
    # segments tile each doc exactly: starts/lengths contiguous
    for d in (1, 2):
        rows = sorted(
            (r["seg_start"], r["seg_len"])
            for r in segs if r["doc_id"] == d
        )
        assert rows[0][0] == 1
        for (s1, l1), (s2, _l2) in zip(rows, rows[1:]):
            assert s1 + l1 == s2
    # short text -> single whole-doc segment; empty text -> absent
    tiny = spark.createDataFrame(
        [(10, "abc"), (11, "")], "doc_id: long, text: string"
    )
    got = D.cdc_segments(tiny).collect()
    assert len(got) == 1 and got[0]["doc_id"] == 10
    assert (got[0]["seg_start"], got[0]["seg_len"]) == (1, 3)


def test_cdc_shared_segments_finds_common_footer(spark):
    """Docs sharing a footer at different offsets collapse under the
    same segment hashes in the cross-doc report."""
    footer = ("standard legal footer all rights reserved contact the "
              "webmaster for questions about this site ") * 2
    docs = spark.createDataFrame(
        [(1, "short body. " + footer),
         (2, "a much longer and entirely different body text here. " + footer),
         (3, "no footer at all in this one, just original content.")],
        "doc_id: long, text: string",
    )
    rep = D.cdc_shared_segments(docs, min_len=20).collect()
    assert rep, "no shared segments found"
    assert all(r["n_docs"] == 2 for r in rep)  # docs 1+2, never 3


def test_corpus_mix_sample_rates_and_determinism(spark):
    from uie_pytorch_spark.operators.textstats import corpus_mix_sample

    rows = [(i, "t", ["keep", "drop", "half"][i % 3]) for i in range(300)]
    docs = spark.createDataFrame(rows, "doc_id: long, text: string, lang: string")
    out = corpus_mix_sample(
        docs, {"keep": 1.0, "drop": 0.0}, default_rate=0.5
    )
    got = {r["lang"]: r["cnt"] for r in
           out.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert got["keep"] == 100          # rate 1.0 keeps the whole stratum
    assert "drop" not in got           # rate 0.0 drops it entirely
    assert 20 <= got.get("half", 0) <= 80   # default rate ~0.5 of 100
    # deterministic: same ids survive across repartitionings
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(
        r["doc_id"]
        for r in corpus_mix_sample(
            docs.repartition(7), {"keep": 1.0, "drop": 0.0}, default_rate=0.5
        ).collect()
    )
    assert a == b
    # re-drawable: a different seed picks a different 'half' subset
    c = sorted(
        r["doc_id"]
        for r in corpus_mix_sample(
            docs, {"keep": 1.0, "drop": 0.0}, default_rate=0.5, seed="mix-v2"
        ).collect()
    )
    assert a != c


def test_decontaminate_ngram_overlap(spark):
    from uie_pytorch_spark.operators.textstats import decontaminate

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "quick brown fox jumps over the lazy dog indeed"),
            (3, "completely different words with no overlap at all here"),
            (4, "short doc"),           # < n tokens -> no n-grams, no crash
            (5, None),                   # null text ignored
        ],
        "doc_id: long, text: string",
    )
    ev = spark.createDataFrame(
        [(100, "THE  Quick Brown fox jumps over the lazy DOG")],
        "doc_id: long, text: string",
    )
    got = {r["doc_id"]: r["n_contaminated_ngrams"]
           for r in decontaminate(docs, ev, n=8).collect()}
    # doc 1 shares both 8-gram windows of the eval sentence (case and
    # whitespace-run insensitive); doc 2 shares one; 3/4/5 clean
    assert got == {1: 2, 2: 1}
