"""KG-layer tests: canonicalization + connected components."""

from __future__ import annotations

from pyspark.sql import functions as F

from uie_pytorch_spark.kg import canonicalize as C


def test_normalize_surface(spark):
    df = spark.createDataFrame(
        [(1, "  Acme　Corp "), (2, "ＡＣＭＥ  corp"), (3, "acme corp")],
        "mention_id: long, surface: string",
    )
    got = {
        r["mention_id"]: r["n"]
        for r in df.select(
            "mention_id", C.normalize_surface(F.col("surface")).alias("n")
        ).collect()
    }
    # full-width letters and U+3000 fold, whitespace collapses+trims
    assert got[1] == "acme corp"
    assert got[2] == "acme corp"
    assert got[3] == "acme corp"


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (12, 11), (20, 21), (21, 20)],
        "src: long, dst: long",
    )
    comp = {r["id"]: r["component"] for r in C.connected_components(edges).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == comp[12] == 10
    assert comp[20] == comp[21] == 20
    # different components are distinct
    assert len({comp[1], comp[10], comp[20]}) == 3


def test_connected_components_chain(spark):
    # long path graph — exercises multiple propagation rounds
    n = 40
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 100 + n)], "src: long, dst: long"
    )
    comp = {r["id"]: r["component"] for r in C.connected_components(edges).collect()}
    assert set(comp.values()) == {100}
    assert len(comp) == n + 1


def test_connected_components_empty_selfloop_converged(spark):
    """Focused coverage for the CC loop's edges (convergence signature
    carried by an observe on the per-round checkpoint job):
    (a) empty input and (b) self-loops-only input exercise the
    observed-count emptiness path;
    (c) a star graph is a fixpoint of the round map (every member of a
    node's closed neighbourhood links to its minimum), so ONE round
    must suffice (the seeded initial signature makes the loop exit
    there) — asserted by forcing max_iterations=1;
    (d) a path cut off by max_iterations=1 before it converges still
    labels every node, each with a node of its own component (node 2
    only ever appears as the smaller end of its edges)."""
    empty = spark.createDataFrame([], "src: long, dst: long")
    assert C.connected_components(empty).count() == 0
    assert [f.name for f in C.connected_components(empty).schema] == [
        "id", "component",
    ]

    loops = spark.createDataFrame([(5, 5), (7, 7)], "src: long, dst: long")
    assert C.connected_components(loops).count() == 0

    star = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "src: long, dst: long"
    )
    comp = {
        r["id"]: r["component"]
        for r in C.connected_components(star, max_iterations=1).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1}

    path = spark.createDataFrame(
        [(3, 1), (2, 4), (3, 4)], "src: long, dst: long"
    )
    rows = C.connected_components(path, max_iterations=1).collect()
    comp = {r["id"]: r["component"] for r in rows}
    assert len(rows) == 4 and set(comp) == {1, 2, 3, 4}
    assert set(comp.values()) <= {1, 2, 3, 4}


def test_connected_components_large_mixed_graph(spark):
    """Scale-shape evidence for the CC backbone: a 512-node path
    (worst case for label propagation — high diameter), a 500-leaf
    star (hub skew), cross-links merging them with a batch of random
    pairs, plus many singleton-ish 2-cliques. Must converge inside the
    round budget (the combined small/large-star round is O(log n)
    rounds on a path) and
    agree exactly with a union-find oracle."""
    import random

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(10_000, 10_512)]          # path
    edges += [(20_000, 20_000 + j) for j in range(1, 501)]       # star
    edges += [(10_200, 20_250), (10_500, 20_499)]                # bridges
    edges += [
        (rng.randrange(30_000, 31_000), rng.randrange(30_000, 31_000))
        for _ in range(800)                                      # random blob
    ]
    edges += [(40_000 + 2 * j, 40_001 + 2 * j) for j in range(200)]

    # union-find oracle
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {x for e in edges for x in e}
    want = {x: find(x) for x in nodes}

    df = spark.createDataFrame(edges, "src: long, dst: long")
    got = {
        r["id"]: r["component"]
        for r in C.connected_components(df, max_iterations=20).collect()
    }
    assert got == want
    # sanity on the interesting structures
    assert got[10_000] == got[10_511] == got[20_001]  # path+star merged


def test_entity_edges_merges_surface_variants(spark):
    """Edge materialization: triples whose endpoint surfaces differ
    only by canonicalization collapse into one edge with aggregated
    mention count, doc frequency, and mean probability."""
    from uie_pytorch_spark.kg.graph import entity_edges

    tri = spark.createDataFrame(
        [
            ("Acme Corp", "ceo-of", "john smith", 0.9, 1),
            ("ACME CORP", "ceo-of", "John Smith", 0.7, 2),
            ("acme corp", "ceo-of", "John Smith", 0.5, 2),
            ("Other Inc", "ceo-of", "John Smith", 0.8, 3),
        ],
        "subj_text: string, pred: string, obj_text: string,"
        " obj_prob: double, doc_id: long",
    )
    surfaces = (
        tri.select(F.col("subj_text").alias("surface"))
        .unionByName(tri.select(F.col("obj_text").alias("surface")))
        .distinct()
    )
    canon = surfaces.select(
        "surface", F.lower(F.col("surface")).alias("canonical_id")
    )
    got = {
        (r["subj_id"], r["pred"], r["obj_id"]):
            (r["n_mentions"], r["n_docs"], r["mean_obj_prob"])
        for r in entity_edges(tri, canon).collect()
    }
    assert len(got) == 2
    n, d, m = got[("acme corp", "ceo-of", "john smith")]
    assert (n, d) == (3, 2)
    assert abs(m - (0.9 + 0.7 + 0.5) / 3) < 1e-12
    assert got[("other inc", "ceo-of", "john smith")][0] == 1


def test_canonicalize_mentions_near_dupes(spark):
    rows = [
        (1, "中国中文信息学会"),
        (2, "中国中文信息学会。"),      # near-dup (punct tail)
        (3, "ＡＣＭＥ Corporation"),
        (4, "acme corporation"),        # exact after normalize
        (5, "totally different entity"),
    ]
    df = spark.createDataFrame(rows, "mention_id: long, surface: string")
    got = C.canonicalize_mentions(df, jaccard_threshold=0.5)
    by_mention = {r["mention_id"]: r["canonical_surface_id"] for r in got.collect()}
    assert by_mention[1] == by_mention[2]
    assert by_mention[3] == by_mention[4]
    assert by_mention[5] not in (by_mention[1], by_mention[3])


def test_entity_degrees_hand_graph(spark):
    """Hand-computable degree profile incl. a dual-role node and a
    self-loop: a->b, a->c (pred p), b->a (pred q), d->d (self)."""
    from uie_pytorch_spark.kg.graph import entity_degrees

    edges = spark.createDataFrame(
        [("a", "p", "b", 3), ("a", "p", "c", 2), ("b", "q", "a", 5),
         ("d", "p", "d", 1)],
        "subj_id: string, pred: string, obj_id: string, n_mentions: long",
    )
    got = {
        r["entity_id"]: (r["out_degree"], r["in_degree"], r["n_preds"],
                         r["strength"])
        for r in entity_degrees(edges).collect()
    }
    assert got["a"] == (2, 1, 2, 10)   # out 3+2, in 5
    assert got["b"] == (1, 1, 2, 8)    # out 5, in 3
    assert got["c"] == (0, 1, 1, 2)
    assert got["d"] == (1, 1, 1, 2)    # self-loop counts both ways


def test_fuse_triples_noisy_or(spark):
    """Hand-computable noisy-or fusion: two 0.5 mentions -> 0.75, a
    singleton keeps its own prob, and per-fact doc counts dedup."""
    from uie_pytorch_spark.kg.graph import fuse_triples

    tri = spark.createDataFrame(
        [
            ("a", "p", "b", 0.5, 1),
            ("a", "p", "b", 0.5, 1),
            ("a", "p", "c", 0.9, 2),
            ("x", "q", "y", 0.0, 3),
        ],
        "subj_id: string, pred: string, obj_id: string,"
        " obj_prob: double, doc_id: long",
    )
    got = {
        (r["subj_id"], r["pred"], r["obj_id"]): r
        for r in fuse_triples(tri).collect()
    }
    ab = got[("a", "p", "b")]
    assert ab["n_mentions"] == 2 and ab["n_docs"] == 1
    assert abs(ab["conf_noisy_or"] - 0.75) < 1e-12
    assert abs(ab["max_prob"] - 0.5) < 1e-12
    assert abs(got[("a", "p", "c")]["conf_noisy_or"] - 0.9) < 1e-9
    assert abs(got[("x", "q", "y")]["conf_noisy_or"] - 0.0) < 1e-12


def test_fuse_triples_prob_one_stays_finite(spark):
    """A certain mention (p=1.0) must not NULL the fused confidence
    (Spark ln(0) is NULL): the clamp keeps conf just below 1."""
    from uie_pytorch_spark.kg.graph import fuse_triples

    tri = spark.createDataFrame(
        [("a", "p", "b", 1.0, 1), ("a", "p", "b", 0.5, 2)],
        "subj_id: string, pred: string, obj_id: string,"
        " obj_prob: double, doc_id: long",
    )
    [r] = fuse_triples(tri).collect()
    assert r["conf_noisy_or"] is not None
    assert 0.999999 < r["conf_noisy_or"] <= 1.0


def _np_pagerank(edges, iters, damping=0.85):
    """Independent dict-based power iteration with the same GraphX
    convention (init 1.0, no dangling redistribution)."""
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0.0) + w
    rank = {n: 1.0 for n in nodes}
    for _ in range(iters):
        contrib = {n: 0.0 for n in nodes}
        for s, d, w in edges:
            contrib[d] += rank[s] * (w / outw[s])
        rank = {n: (1 - damping) + damping * contrib[n] for n in nodes}
    return rank


def test_pagerank_hand_graph(spark):
    """4-node weighted graph incl. a dangling node, checked against an
    independent per-edge power iteration."""
    from uie_pytorch_spark.kg.graph import pagerank

    edges = [("a", "b", 2.0), ("a", "c", 1.0), ("b", "c", 1.0),
             ("c", "a", 1.0), ("c", "d", 3.0)]
    df = spark.createDataFrame(edges, "src: string, dst: string, w: double")
    got = {
        r["entity_id"]: r["rank"]
        for r in pagerank(df, iters=8, src="src", dst="dst",
                          weight="w").collect()
    }
    want = _np_pagerank(edges, iters=8)
    assert set(got) == set(want)
    for n in want:
        assert abs(got[n] - want[n]) < 1e-9, n


def test_pagerank_cycle_fixpoint(spark):
    """On a uniform cycle every rank stays at the 1.0 fixpoint
    regardless of iteration count."""
    from uie_pytorch_spark.kg.graph import pagerank

    df = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "c", 1.0), ("c", "a", 1.0)],
        "src: string, dst: string, w: double",
    )
    for r in pagerank(df, iters=4, src="src", dst="dst",
                      weight="w").collect():
        assert abs(r["rank"] - 1.0) < 1e-12


def test_pagerank_unweighted_default(spark):
    """weight=None treats every edge as 1.0."""
    from uie_pytorch_spark.kg.graph import pagerank

    e = [("a", "b"), ("a", "c"), ("b", "c")]
    df = spark.createDataFrame(e, "src: string, dst: string")
    got = {
        r["entity_id"]: r["rank"]
        for r in pagerank(df, iters=3, src="src", dst="dst").collect()
    }
    want = _np_pagerank([(s, d, 1.0) for s, d in e], iters=3)
    for n in want:
        assert abs(got[n] - want[n]) < 1e-12, n


def test_k_hop_min_distance(spark):
    """BFS keeps the MINIMUM distance when a node is reachable along
    paths of different lengths, and stops at k."""
    from uie_pytorch_spark.kg.graph import k_hop

    # a -> b -> c -> e, plus shortcut a -> c; d unreachable within 2
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "e"), ("a", "c"), ("e", "f")],
        "src: string, dst: string",
    )
    seeds = spark.createDataFrame([("a",)], "entity_id: string")
    got = {
        r["entity_id"]: r["dist"]
        for r in k_hop(edges, seeds, k=2, src="src", dst="dst").collect()
    }
    assert got == {"a": 0, "b": 1, "c": 1, "e": 2}


def test_k_hop_reversed_direction(spark):
    """src/dst swapped walks edges backwards (who reaches the seed)."""
    from uie_pytorch_spark.kg.graph import k_hop

    edges = spark.createDataFrame(
        [("u", "v"), ("w", "v"), ("x", "u")], "src: string, dst: string"
    )
    seeds = spark.createDataFrame([("v",)], "entity_id: string")
    got = {
        r["entity_id"]: r["dist"]
        for r in k_hop(edges, seeds, k=2, src="dst", dst="src").collect()
    }
    assert got == {"v": 0, "u": 1, "w": 1, "x": 2}


def test_cooccurrence_pmi_hand_values(spark):
    """Three docs, hand-computable marginals: pmi(a,b)=ln(2*3/(3*2))=0,
    pmi(a,c)=0, pmi(b,c)=ln(3/2); duplicate incidence rows dedup."""
    import math

    from uie_pytorch_spark.kg.graph import cooccurrence_pmi

    rows = [(1, "a"), (1, "a"), (1, "b"), (1, "c"),
            (2, "a"), (2, "b"), (3, "a")]
    df = spark.createDataFrame(rows, "doc_id: long, item: string")
    got = {
        (r["a"], r["b"]): (r["n_ab"], r["pmi"])
        for r in cooccurrence_pmi(df, min_pairs=1).collect()
    }
    assert got[("a", "b")][0] == 2
    assert abs(got[("a", "b")][1] - 0.0) < 1e-12
    assert abs(got[("a", "c")][1] - 0.0) < 1e-12
    assert abs(got[("b", "c")][1] - math.log(1.5)) < 1e-12
    assert len(got) == 3


def test_cooccurrence_min_pairs_prunes(spark):
    from uie_pytorch_spark.kg.graph import cooccurrence_pmi

    rows = [(1, "a"), (1, "b"), (2, "a"), (2, "b"), (3, "a"), (3, "c")]
    df = spark.createDataFrame(rows, "doc_id: long, item: string")
    got = {(r["a"], r["b"]) for r in cooccurrence_pmi(df, min_pairs=2).collect()}
    assert got == {("a", "b")}


def test_triangle_counts_square_with_diagonal(spark):
    """Square a-b-c-d-a plus diagonal a-c: triangles abc and acd, so
    a and c sit in 2 each, b and d in 1 each — robust to reversed and
    duplicate orientations and self-loops in the input."""
    from uie_pytorch_spark.kg.graph import triangle_counts

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c"),
         ("c", "a"), ("b", "b")],
        "a: string, b: string",
    )
    got = {
        r["entity_id"]: r["n_triangles"]
        for r in triangle_counts(edges).collect()
    }
    assert got == {"a": 2, "c": 2, "b": 1, "d": 1}


def test_triangle_counts_no_triangles(spark):
    from uie_pytorch_spark.kg.graph import triangle_counts

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "a: string, b: string"
    )
    assert triangle_counts(edges).count() == 0


def test_merge_edges_equals_fuse_all_at_once(spark):
    """Associativity: fusing two disjoint batches then merging must
    equal fusing every mention at once (counts exactly, conf to 1e-9)."""
    from uie_pytorch_spark.kg.graph import fuse_triples
    from uie_pytorch_spark.kg.maintain import merge_edges

    rows = [
        ("s1", "p", "o1", 0.9, 1), ("s1", "p", "o1", 0.5, 2),
        ("s1", "p", "o1", 0.8, 3), ("s2", "p", "o2", 0.7, 1),
        ("s3", "p", "o3", 0.6, 4),
    ]
    schema = "subj_id: string, pred: string, obj_id: string, obj_prob: double, doc_id: long"
    m = spark.createDataFrame(rows, schema)
    base = fuse_triples(m.filter("doc_id % 2 = 0"))
    delta = fuse_triples(m.filter("doc_id % 2 = 1"))
    merged = {
        (r["subj_id"], r["pred"], r["obj_id"]): r
        for r in merge_edges(base, delta).collect()
    }
    once = {
        (r["subj_id"], r["pred"], r["obj_id"]): r
        for r in fuse_triples(m).collect()
    }
    assert set(merged) == set(once)
    for k in once:
        assert merged[k]["n_mentions"] == once[k]["n_mentions"]
        assert merged[k]["n_docs"] == once[k]["n_docs"]
        assert merged[k]["max_prob"] == once[k]["max_prob"]
        assert abs(merged[k]["conf_noisy_or"] - once[k]["conf_noisy_or"]) < 1e-9


def test_snapshot_latest_supersedes_and_tiebreaks(spark):
    from datetime import datetime

    from uie_pytorch_spark.kg.maintain import snapshot_latest

    t = spark.createDataFrame(
        [
            ("s1", "p", "old", datetime(2026, 1, 1)),
            ("s1", "p", "new", datetime(2026, 2, 1)),
            ("s2", "p", "a", datetime(2026, 1, 1)),
            ("s2", "p", "b", datetime(2026, 1, 1)),  # tie -> obj desc
        ],
        "subj_id: string, pred: string, obj_id: string, ts: timestamp",
    )
    got = {r["subj_id"]: r["obj_id"] for r in snapshot_latest(t).collect()}
    assert got == {"s1": "new", "s2": "b"}


def test_relation_compose_counts_paths(spark):
    """a-[p1]->m1,m2; m1,m2-[p2]->c gives 2 paths a->c with summed
    weight w1*w2 per path; unrelated predicates are filtered out."""
    from uie_pytorch_spark.kg.maintain import relation_compose

    t = spark.createDataFrame(
        [
            ("a", "p1", "m1", 2.0), ("a", "p1", "m2", 3.0),
            ("m1", "p2", "c", 5.0), ("m2", "p2", "c", 7.0),
            ("a", "px", "c", 99.0),
        ],
        "subj_id: string, pred: string, obj_id: string, w: double",
    )
    out = relation_compose(t, "p1", "p2", "p1p2", weight="w").collect()
    assert len(out) == 1
    r = out[0]
    assert (r["subj_id"], r["pred"], r["obj_id"]) == ("a", "p1p2", "c")
    assert r["n_paths"] == 2
    assert r["weight"] == 2.0 * 5.0 + 3.0 * 7.0


def test_entity_types_majority_and_tiebreak(spark):
    from uie_pytorch_spark.kg.maintain import entity_types

    sig = spark.createDataFrame(
        [("p1", "person", "city"), ("p2", "org", "city")],
        "pred: string, subj_type: string, obj_type: string",
    )
    t = spark.createDataFrame(
        [
            ("e1", "p1", "c1"), ("e1", "p1", "c2"), ("e1", "p2", "c1"),
            ("e2", "p1", "c9"), ("c9", "p2", "e2"),  # e2: person vs city tie
        ],
        "subj_id: string, pred: string, obj_id: string",
    )
    got = {
        r["entity_id"]: (r["entity_type"], r["n_votes"])
        for r in entity_types(t, sig).collect()
    }
    assert got["e1"] == ("person", 2)
    assert got["e2"] == ("city", 1)  # tie 1-1 breaks to smallest name
    assert got["c1"] == ("city", 2)


def test_constraint_violations_functional_preds(spark):
    from uie_pytorch_spark.kg.maintain import constraint_violations

    t = spark.createDataFrame(
        [
            # s1 violates 'born-in' (2 distinct objects, one repeated)
            ("s1", "born-in", "paris"),
            ("s1", "born-in", "lyon"),
            ("s1", "born-in", "paris"),
            # s2 is clean (same object twice)
            ("s2", "born-in", "rome"),
            ("s2", "born-in", "rome"),
            # s1 has many 'visited' objects but it's not functional
            ("s1", "visited", "rome"),
            ("s1", "visited", "oslo"),
            ("s1", "visited", "bern"),
        ],
        "subj_id: string, pred: string, obj_id: string",
    )
    out = constraint_violations(t, ["born-in"]).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["subj_id"], r["pred"]) == ("s1", "born-in")
    assert r["n_objects"] == 2
    assert (r["obj_min"], r["obj_max"]) == ("lyon", "paris")

    # two functional predicates at once; empty violation set is empty DF
    none = constraint_violations(t, ["unused-pred"]).collect()
    assert none == []


def test_degree_histogram_buckets_exact(spark):
    """Star a-{b..e} plus b-c: deg(a)=4 -> bucket 2; deg(b)=deg(c)=2
    -> bucket 1; deg(d)=deg(e)=1 -> bucket 0. Direction-blind and
    duplicate-edge-proof."""
    from uie_pytorch_spark.kg.graph import degree_histogram

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "c"), ("a", "d"), ("a", "e"),
         ("b", "c")],
        "src: string, dst: string",
    )
    got = {
        r["bucket"]: (r["n_entities"], r["min_degree"], r["max_degree"])
        for r in degree_histogram(edges).collect()
    }
    assert got == {2: (1, 4, 4), 1: (2, 2, 2), 0: (2, 1, 1)}


def test_link_mentions_salience_argmax(spark):
    """'apple' matches both entities containing the token; the higher
    rank wins; rank ties break to the smaller entity_id; a token unique
    to one entity links with n_candidates=1; unmatched mentions drop."""
    from uie_pytorch_spark.kg.graph import link_mentions

    ranks = spark.createDataFrame(
        [("apple inc", 9.0), ("apple records", 4.0),
         ("zebra records", 4.0), ("plain", 1.0)],
        "entity_id: string, rank: double",
    )
    mentions = spark.createDataFrame(
        [("apple",), ("records",), ("inc",), ("missing",)],
        "mention: string",
    )
    got = {
        r["mention"]: (r["entity_id"], r["n_candidates"])
        for r in link_mentions(mentions, ranks).collect()
    }
    assert got == {
        "apple": ("apple inc", 2),
        "records": ("apple records", 2),  # 4.0 tie -> smaller id
        "inc": ("apple inc", 1),
    }


def test_label_propagation_two_cliques(spark):
    """Two triangles bridged by one edge converge (fixed point at 3
    rounds) to exactly two communities split at the bridge — each
    bridge endpoint sees 2 in-clique neighbors vs 1 across, so the
    communities never merge. Labels are asserted as a partition, not
    by value: synchronous LPA legitimately carries a bridged-in label
    ('c' crosses into the x-triangle in round 1) before settling."""
    from uie_pytorch_spark.kg.graph import label_propagation

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"),
         ("x", "y"), ("y", "z"), ("z", "x"),
         ("c", "x")],
        "src: string, dst: string",
    )
    got = {
        r["entity_id"]: r["community"]
        for r in label_propagation(
            edges, iters=3, src="src", dst="dst"
        ).collect()
    }
    parts = {}
    for node, lbl in got.items():
        parts.setdefault(lbl, set()).add(node)
    assert sorted(map(sorted, parts.values())) == [
        ["a", "b", "c"], ["x", "y", "z"]
    ]


def test_label_propagation_star_adopts_hub_min_tiebreak(spark):
    """Star m-{p,q,r}: leaves adopt the hub's label in round 1; the
    hub sees three distinct labels (count 1 each) and takes the MIN —
    deterministic tie-break, self-loops and duplicates ignored."""
    from uie_pytorch_spark.kg.graph import label_propagation

    edges = spark.createDataFrame(
        [("m", "p"), ("m", "q"), ("m", "r"), ("m", "m"), ("p", "m")],
        "src: string, dst: string",
    )
    got = {
        r["entity_id"]: r["community"]
        for r in label_propagation(edges, iters=1, src="src", dst="dst").collect()
    }
    assert got == {"m": "p", "p": "m", "q": "m", "r": "m"}


def test_snapshot_diff_three_change_classes(spark):
    """added (key only in new), removed (key only in old), changed
    (object differs); unchanged facts are dropped."""
    from uie_pytorch_spark.kg.maintain import snapshot_diff

    olds = spark.createDataFrame(
        [("s1", "p", "x"), ("s2", "p", "y"), ("s3", "p", "z")],
        "subj_id: string, pred: string, obj_id: string",
    )
    news = spark.createDataFrame(
        [("s1", "p", "x"), ("s2", "p", "Y2"), ("s4", "p", "w")],
        "subj_id: string, pred: string, obj_id: string",
    )
    got = {
        (r["subj_id"], r["pred"]): (r["change"], r["old_obj"], r["new_obj"])
        for r in snapshot_diff(olds, news).collect()
    }
    assert got == {
        ("s2", "p"): ("changed", "y", "Y2"),
        ("s3", "p"): ("removed", "z", None),
        ("s4", "p"): ("added", None, "w"),
    }


def test_node_similarity_square_graph(spark):
    """Square a-b-c-d-a: opposite corners share BOTH neighbors
    (jaccard 1.0); adjacent corners share none and are absent."""
    from uie_pytorch_spark.kg.graph import node_similarity

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],
        "src: string, dst: string",
    )
    got = {
        (r["entity_a"], r["entity_b"]):
            (r["n_common"], r["degree_a"], r["degree_b"], r["jaccard"])
        for r in node_similarity(
            edges, min_common=2, src="src", dst="dst"
        ).collect()
    }
    assert got == {
        ("a", "c"): (2, 2, 2, 1.0),
        ("b", "d"): (2, 2, 2, 1.0),
    }


def test_node_similarity_min_common_gate(spark):
    """min_common prunes single-shared-neighbor pairs; a shared hub
    gives every leaf pair exactly one common neighbor."""
    from uie_pytorch_spark.kg.graph import node_similarity

    edges = spark.createDataFrame(
        [("h", "p"), ("h", "q"), ("h", "r")],
        "src: string, dst: string",
    )
    assert (
        node_similarity(edges, min_common=2, src="src", dst="dst").count()
        == 0
    )
    got = {
        (r["entity_a"], r["entity_b"]): r["jaccard"]
        for r in node_similarity(
            edges, min_common=1, src="src", dst="dst"
        ).collect()
    }
    assert got == {("p", "q"): 1.0, ("p", "r"): 1.0, ("q", "r"): 1.0}


def test_fact_intervals_scd2_runs_and_reopen(spark):
    from datetime import datetime

    from uie_pytorch_spark.kg.maintain import fact_intervals

    # s1: A,A,B,A -> three intervals (the A run REOPENS after B —
    # run-length semantics, not groupBy-object); s2: one open interval.
    t = spark.createDataFrame(
        [
            ("s1", "p", "A", datetime(2026, 1, 1)),
            ("s1", "p", "A", datetime(2026, 2, 1)),
            ("s1", "p", "B", datetime(2026, 3, 1)),
            ("s1", "p", "A", datetime(2026, 4, 1)),
            ("s2", "p", "X", datetime(2026, 1, 15)),
        ],
        "subj_id: string, pred: string, obj_id: string, ts: timestamp",
    )
    rows = sorted(
        fact_intervals(t).collect(),
        key=lambda r: (r["subj_id"], r["valid_from"]),
    )
    got = [
        (r["subj_id"], r["obj_id"], r["valid_from"].month,
         r["valid_to"].month if r["valid_to"] else None, r["is_current"])
        for r in rows
    ]
    assert got == [
        ("s1", "A", 1, 3, False),
        ("s1", "B", 3, 4, False),
        ("s1", "A", 4, None, True),
        ("s2", "X", 1, None, True),
    ]


def test_fact_intervals_same_ts_tiebreak(spark):
    from datetime import datetime

    from uie_pytorch_spark.kg.maintain import fact_intervals

    # two conflicting assertions at the SAME ts collapse with
    # snapshot_latest's max-object rule before intervals form, so the
    # output is a pure function of the input set
    t = spark.createDataFrame(
        [
            ("s", "p", "a", datetime(2026, 1, 1)),
            ("s", "p", "z", datetime(2026, 1, 1)),
            ("s", "p", "z", datetime(2026, 2, 1)),
        ],
        "subj_id: string, pred: string, obj_id: string, ts: timestamp",
    )
    rows = fact_intervals(t).collect()
    assert len(rows) == 1
    assert rows[0]["obj_id"] == "z" and rows[0]["is_current"]


def test_hits_hand_graph(spark):
    from uie_pytorch_spark.kg.graph import hits

    # h1 -> {a, b}, h2 -> {a}; 2 L1-normalized rounds by hand:
    #   r1: auth a=2/3 b=1/3; hub h1=3/5 h2=2/5
    #   r2: auth a=5/8 b=3/8; hub h1=8/13 h2=5/13
    e = spark.createDataFrame(
        [("h1", "p", "a"), ("h2", "p", "a"), ("h1", "p", "b"),
         ("h1", "p", "a")],  # duplicate edge must not change scores
        "subj_id: string, pred: string, obj_id: string",
    )
    got = {r["entity_id"]: (r["hub"], r["auth"])
           for r in hits(e, iters=2).collect()}
    assert abs(got["h1"][0] - 8 / 13) < 1e-12
    assert abs(got["h2"][0] - 5 / 13) < 1e-12
    assert abs(got["a"][1] - 5 / 8) < 1e-12
    assert abs(got["b"][1] - 3 / 8) < 1e-12
    assert got["a"][0] == 0.0 and got["h1"][1] == 0.0


def test_ntriples_lines_exact_serialization(spark):
    from uie_pytorch_spark.export import ntriples_lines

    t = spark.createDataFrame(
        [("san jose", "made-in", "west coast", 0.25)],
        "subj_id: string, pred: string, obj_id: string, conf: double",
    )
    row = ntriples_lines(t, conf="conf").collect()[0]
    assert row["ntriple"] == (
        "<http://kg.example/e/san_jose> <http://kg.example/p/made-in> "
        "<http://kg.example/e/west_coast> ."
    )
    import hashlib

    stmt_md5 = hashlib.md5(
        "san jose\x1fmade-in\x1fwest coast".encode()
    ).hexdigest()
    assert row["conf_ntriple"] == (
        f"<http://kg.example/stmt/{stmt_md5}> "
        '<http://kg.example/p/confidence> "0.250000"'
        "^^<http://www.w3.org/2001/XMLSchema#double> ."
    )
    # null confidence -> NULL line (never the string "null" inside an
    # xsd:double literal); the plain ntriple still emits
    t2 = spark.createDataFrame(
        [("a", "p", "b", None)],
        "subj_id: string, pred: string, obj_id: string, conf: double",
    )
    row2 = ntriples_lines(t2, conf="conf").collect()[0]
    assert row2["conf_ntriple"] is None
    assert row2["ntriple"].endswith(" .")
    # tie-valued double (2^-7): micro rendering is engine-independent
    t3 = spark.createDataFrame(
        [("a", "p", "b", 0.0078125)],
        "subj_id: string, pred: string, obj_id: string, conf: double",
    )
    assert '"0.007813"' in ntriples_lines(t3, conf="conf").collect()[0][
        "conf_ntriple"
    ]
    # no conf column requested -> 4-column shape, pure projection
    assert ntriples_lines(t).columns == [
        "subj_id", "pred", "obj_id", "ntriple",
    ]


def test_shortest_paths_min_plus_and_cycle(spark):
    from uie_pytorch_spark.kg.graph import shortest_paths

    # s -> a (w 5), s -> b (w 1), b -> a (w 1): 2-hop path beats the
    # direct edge (dist a = 2, not 5); c unreachable within k; the
    # a -> s back-edge closes a cycle that must not loop forever.
    e = spark.createDataFrame(
        [("s", "a", 5.0), ("s", "b", 1.0), ("b", "a", 1.0),
         ("a", "s", 1.0), ("x", "c", 1.0)],
        "subj_id: string, obj_id: string, w: double",
    )
    seeds = spark.createDataFrame([("s",)], "entity_id: string")
    got = {r["entity_id"]: r["dist"]
           for r in shortest_paths(e, seeds, k=3, weight="w").collect()}
    assert got == {"s": 0.0, "b": 1.0, "a": 2.0}
    # unweighted default: dist == hop count
    got2 = {r["entity_id"]: r["dist"]
            for r in shortest_paths(e, seeds, k=2).collect()}
    assert got2 == {"s": 0.0, "a": 1.0, "b": 1.0}


def test_fact_intervals_null_ts_dropped(spark):
    from datetime import datetime

    from uie_pytorch_spark.kg.maintain import fact_intervals

    t = spark.createDataFrame(
        [
            ("s", "p", "A", datetime(2026, 1, 1)),
            ("s", "p", "B", None),  # unversionable -> dropped
        ],
        "subj_id: string, pred: string, obj_id: string, ts: timestamp",
    )
    rows = fact_intervals(t).collect()
    assert [(r["obj_id"], r["is_current"]) for r in rows] == [("A", True)]


def test_ntriples_lines_drops_incomplete_edges(spark):
    from uie_pytorch_spark.export import ntriples_lines

    t = spark.createDataFrame(
        [("a", "p", "b"), (None, "p", "c"), ("d", None, "e"), ("f", "p", None)],
        "subj_id: string, pred: string, obj_id: string",
    )
    rows = ntriples_lines(t).collect()
    assert len(rows) == 1 and rows[0]["subj_id"] == "a"


def test_reciprocity_report_hand_graph(spark):
    from uie_pytorch_spark.kg.maintain import reciprocity_report

    t = spark.createDataFrame(
        [
            ("a", "sym", "b"), ("b", "sym", "a"),      # reciprocal pair
            ("a", "sym", "c"),                          # one-way
            ("a", "sym", "b"),                          # duplicate edge
            ("x", "loop", "x"),                         # self-loop excluded
            ("x", "one", "y"),
        ],
        "subj_id: string, pred: string, obj_id: string",
    )
    got = {r["pred"]: (r["n_edges"], r["n_reciprocal"],
                       round(r["reciprocity"], 6))
           for r in reciprocity_report(t).collect()}
    assert got["sym"] == (3, 2, round(2 / 3, 6))
    assert got["one"] == (1, 0, 0.0)
    assert "loop" not in got  # only a self-loop -> no qualifying edges


def test_random_walks_deterministic_and_sink_stops(spark):
    from uie_pytorch_spark.kg.graph import random_walks

    # a -> {b, c}; b -> c; c is a SINK (walks entering c stop early)
    e = spark.createDataFrame(
        [("a", "p", "b"), ("a", "p", "c"), ("b", "p", "c")],
        "subj_id: string, pred: string, obj_id: string",
    )
    out = random_walks(e, length=3).collect()
    walks = {}
    for r in out:
        walks.setdefault(r["walk_id"], {})[r["step"]] = r["node"]
    # every walk starts at its own node
    assert all(w[0] == wid for wid, w in walks.items())
    # c is a sink: its walk has only step 0
    assert set(walks["c"]) == {0}
    # b's walk is forced: b -> c, then stops
    assert walks["b"] == {0: "b", 1: "c"}
    # a's step-1 node is one of its neighbors, then the walk follows
    # the graph; a second invocation reproduces it exactly
    assert walks["a"][1] in {"b", "c"}
    again = {}
    for r in random_walks(e, length=3).collect():
        again.setdefault(r["walk_id"], {})[r["step"]] = r["node"]
    assert again == walks
    # a different seed may (and here does) redraw the corpus shape:
    # determinism is per-seed, not global
    reseed = {}
    for r in random_walks(e, length=3, seed="walk-v2").collect():
        reseed.setdefault(r["walk_id"], {})[r["step"]] = r["node"]
    assert all(w[0] == wid for wid, w in reseed.items())
