#!/usr/bin/env python
"""Dump .explain('formatted') for the engine's hot paths and the
headline queries into PLANS.md — the evidence that pushdown, pruning,
broadcast choices, and shuffle counts are what we claim.

Run: python scripts/explain_audit.py  (writes PLANS.md at repo root)
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def clip(plan: str) -> str:
    """A plan cut at 6,000 characters, but never inside its operator
    tree: the tree (the text before the first blank line) is kept
    whole and only the node details after it are cut."""
    plan = plan.strip()
    tree_end = plan.find("\n\n")
    return plan[: max(6000, tree_end if tree_end >= 0 else len(plan))]


def tree_of(df, cached: bool = False) -> str:
    """The physical operator tree alone, one line (cut at 120 chars)
    per operator. A cached relation prints as one InMemoryTableScan
    leaf, where explain() would nest its whole plan, AQE's initial and
    final copies both, so a stage that reads caches stays readable.
    ``cached=True`` prints instead the plan that builds the cache of
    the persisted ``df``, as AQE first planned it."""

    def walk(p, depth):
        lines = [("  " * depth + p.simpleString(25))[:120]]
        kids = p.children()
        for i in range(kids.size()):
            lines += walk(kids.apply(i), depth + 1)
        return lines

    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    if cached:
        plan = plan.relation().cachedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.initialPlan()
    return "\n".join(walk(plan, 0))


def main():
    from uie_pytorch_spark.session import get_spark

    spark = get_spark(app_name="explain-audit", master="local[8]", shuffle_partitions=8)
    sections = []

    # 1. scan pruning: only (doc_id, text) must be read for extraction
    docs_full = spark.read.parquet(f"{SF}/documents.parquet")
    pruned = docs_full.select("doc_id", "text").filter("length(text) > 0")
    sections.append(
        ("Scan pruning: documents -> (doc_id, text) only",
         "ReadSchema must list only doc_id,text; the n_chars/lang/source "
         "columns must not be read; the length filter shows in PushedFilters "
         "or post-scan Filter.",
         plan_of(pruned))
    )

    # 2. engine stage plan: the CHILD level, the one that decodes cls
    # answers (a root stage's probe finds none and drops the vote); its
    # two nodes share the level's one stage
    from uie_pytorch_spark.engine import UIEConfig, UIEEngine

    eng = UIEEngine(
        spark,
        {"subject entity": ["related fact", "sentiment [positive, negative]"]},
        UIEConfig(lang="en"),
    )
    roots = eng.tree.children
    parents = eng._run_stage(eng._root_examples(roots, pruned)).persist()
    stage = eng._run_stage(eng._child_examples(roots[0].children, pruned, parents))
    sections.append(
        ("Extraction child level, two nodes in one stage (chunk explode -> dedup -> "
         "mapInArrow -> join-back -> vote)",
         "Expect: the parent level and this level's decoded records "
         "(dedup distinct -> repartition -> ONE MapInArrow serving both "
         "nodes, materialized by the cls probe) enter as InMemoryTableScan "
         "leaves; the window sizes mpl come from ONE 1-row aggregate "
         "(a max prompt per node) cross-joined as a broadcast; the "
         "join-back is AQE's choice "
         "(broadcast when the records side is small); the cls vote is "
         "ONE ObjectHashAggregate pair keyed (doc_id, ex_id) behind one "
         "Exchange — no explicit repartition, no min_by. html/binary "
         "columns never appear. Operator trees only (tree_of): the "
         "level's plan, then the plan of its records cache.",
         tree_of(stage) + "\n-- records cache --\n"
         + tree_of(eng._stage_caches[-1], cached=True))
    )
    eng.unpersist()
    parents.unpersist()

    # 3. broadcast star join
    from uie_pytorch_spark.queries import QUERIES

    sections.append(
        ("join_broadcast_dims (fact-to-dim star join)",
         "Expect BroadcastHashJoin on both dims, no shuffle of orders "
         "before the final aggregate.",
         plan_of(QUERIES["join_broadcast_dims"](spark, SF)))
    )

    # 4. minhash signature (partial-aggregatable groupBy)
    sections.append(
        ("minhash_signature (shingle explode -> 1 md5 + k affine perms -> k min aggs)",
         "Expect ONE md5 per shingle (h60 appears once, the k permutation "
         "columns are cheap arithmetic), partial_min for all k columns "
         "before the Exchange (map-side combine) — the shuffle carries one "
         "row per doc per partial, NOT per (shingle, perm).",
         plan_of(QUERIES["minhash_signature"](spark, SF)))
    )

    # 5. anti-join negatives
    sections.append(
        ("anti_join_negatives",
         "Expect BroadcastHashJoin LeftAnti (orders keys broadcast) — no "
         "full shuffle of customer.",
         plan_of(QUERIES["anti_join_negatives"](spark, SF)))
    )

    # 6. SRP ANN: bucket equi-join, never a cartesian product
    sections.append(
        ("ann_srp_topk (SRP bucket-join + exact in-bucket rerank)",
         "Expect NO CartesianProduct / BroadcastNestedLoopJoin anywhere: "
         "query buckets meet candidate buckets in an equi-join on "
         "`bucket`, and the rerank joins the candidate PAIR LIST to the "
         "flat vectors (per-pair O(dim) work).",
         plan_of(QUERIES["ann_srp_topk"](spark, SF)))
    )

    # 6b. IVF ANN: broadcast quantizer, list-probe equi-join, no
    # cartesian product
    sections.append(
        ("ann_ivf_topk (IVF-Flat: broadcast quantizer -> inverted lists -> probe -> rerank)",
         "Expect the centroid assignment as a BroadcastHashJoin against "
         "the tiny centroid table (the corpus is never shuffled for "
         "assignment beyond one partial-agg groupBy), candidates met "
         "through the (centroid -> members) equi-join, and NO "
         "CartesianProduct / BroadcastNestedLoopJoin anywhere.",
         plan_of(QUERIES["ann_ivf_topk"](spark, SF)))
    )

    sections.append(
        ("ann_ivf_l2_topk (L2-consistent list assignment)",
         "Same shape as ann_ivf_topk — the only delta is the list "
         "score expression (2*cdot - cnorm2, exact bigint micro-units) "
         "inside the same partial-agg groupBy; still BroadcastHashJoin "
         "for assignment, equi-join candidates, no BNLJ/cartesian.",
         plan_of(QUERIES["ann_ivf_l2_topk"](spark, SF)))
    )

    # 7. near-dup verified edges: minhash -> LSH band join -> jaccard
    # on the candidates' shingle arrays (CC inputs only — the CC loop
    # itself is iterative with localCheckpoint lineage cuts, so the
    # auditable plan is the edge-construction pipeline)
    from pyspark.sql import functions as F

    from uie_pytorch_spark.operators import dedup as D

    docs_j = docs_full.select("doc_id", "text").limit(200)
    cands = D.lsh_candidate_pairs(D.minhash_sig_array(docs_j))
    sections.append(
        ("jaccard_pairs with LSH candidates (shingle arrays)",
         "Expect: partial-aggregated minhash groupBys, one banded "
         "equi-join for candidates, then the candidate pair table "
         "joined twice to per-doc shingle arrays (one join per side) "
         "and scored by array_intersect — no aggregate above the "
         "candidate list and no all-pairs shingle self-join.",
         plan_of(D.jaccard_pairs(docs_j, threshold=0.5, candidates=cands)))
    )

    # 8. exact pre-collapse below the near-dup tier (the mirror-cluster
    # hazard fix): the two calls near_dup_canonical makes before CC, at
    # its default threshold, width and bucket cap.
    _, groups = D.content_groups(docs_j)
    groups_tree = tree_of(groups)  # as planned, before the checkpoint runs it
    _, edges = D.near_dup_edges(
        groups, 0.5, D.DEFAULT_SHINGLE, D.DEFAULT_MAX_BUCKET_SIZE
    )
    sections.append(
        ("near_dup_canonical candidate branch (exact pre-collapse, then the edge step over its checkpoint)",
         "Expect: the groups checkpoint's plan is one partial/final "
         "aggregate pair keyed by content_hash = md5(text) (min(doc_id) "
         "representative, first(text)); the edge step (MinHash, LSH banded equi-join, "
         "Jaccard on shingle arrays) reads that checkpoint as an "
         "ExistingRDD leaf under the Generate(explode) of shingles — a "
         "mirror cluster of m identical docs reaches MinHash/LSH as ONE "
         "row. The iterative CC and the content_hash fan-out join are "
         "not shown. Operator trees only (tree_of).",
         groups_tree + "\n-- verified edges over the groups checkpoint --\n"
         + tree_of(edges))
    )

    # 9. range join: the bucketed rewrite must be an equi-join, not
    # the BroadcastNestedLoopJoin Spark plans for a raw inequality join
    from uie_pytorch_spark.operators.temporal import range_join_bucketed

    ev = spark.read.parquet(f"{SF}/events.parquet")
    pts = ev.select("event_id", "user_id", "ts", "value")
    wins = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("win_id"),
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("w_end"),
    )
    sections.append(
        ("range_join_bucketed (interval containment as bin-explode + equi-join)",
         "Expect an EQUI-join on (user_id, __bin) — BroadcastHashJoin "
         "at this SF (AQE broadcasts the small interval side), "
         "SortMergeJoin at scale — with the containment refine as a "
         "post-join condition, and NO BroadcastNestedLoopJoin / "
         "CartesianProduct anywhere (the plan a naive ts BETWEEN "
         "start AND end join degenerates to). "
         "Intervals replicate only onto the 1-2 bins they overlap "
         "(Generate over a 2-element sequence), points are never "
         "replicated.",
         plan_of(range_join_bucketed(
             pts, wins, point_ts="ts", start="w_start", end="w_end",
             by="user_id", bucket=1800,
         )))
    )

    # 10. salted hot-key aggregation: two HashAggregate pairs (salted
    # partial -> merge) and the corpus total as a broadcast scalar
    from uie_pytorch_spark.operators import textstats as TS

    sections.append(
        ("salted_group_stats (Zipfian-domain profile, two-phase salted agg)",
         "Expect TWO aggregation levels — HashAggregate keyed "
         "(source, __salt) partial+final, then HashAggregate keyed "
         "(source) — so a hot domain's rows split across salt "
         "combiners before any single reduce task sees the key; the "
         "corpus total enters via BroadcastNestedLoopJoin of a "
         "1-ROW aggregate (a broadcast scalar, the sanctioned BNLJ "
         "shape), never a join key.",
         plan_of(TS.salted_group_stats(docs_full)))
    )

    # 11. incremental KG delta-merge: union + ONE combinable groupBy,
    # never a full-outer join of base against delta
    sections.append(
        ("kg_merge_delta (standing edge table + delta batch fold)",
         "Expect the two fused batches to meet in a Union feeding ONE "
         "HashAggregate pair (partial below the Exchange, final above) "
         "keyed (subj_id, pred, obj_id) — NO SortMergeJoin/full-outer "
         "of base vs delta: a 10^10-edge base folds a delta by moving "
         "one partial row per touched fact.",
         plan_of(QUERIES["kg_merge_delta"](spark, SF)))
    )

    # 12. entity linking: explode + equi-join candidates, single
    # window shuffle — never a LIKE/contains theta-join
    sections.append(
        ("kg_link_mentions (token equi-join candidates + salience argmax)",
         "Expect candidate generation as an EQUI-join of the mention "
         "set against Generate(explode)-ed surface tokens (no "
         "BroadcastNestedLoopJoin — the plan a contains()/LIKE join "
         "degenerates to), then ONE Exchange on `mention` shared by "
         "the row_number argmax and the candidate count (same Window "
         "partitioning).",
         plan_of(QUERIES["kg_link_mentions"](spark, SF)))
    )

    # 13. co-occurrence PMI: doc-key self equi-join, combinable pair
    # groupBy, marginals broadcast back
    sections.append(
        ("kg_cooccurrence_pmi (incidence self-join -> pair groupBy -> broadcast marginals)",
         "Expect the pair generation as an EQUI-join on the document "
         "key (a < b as a post-join Filter), ONE partial-aggregated "
         "HashAggregate on (a, b), and the marginal counts + corpus "
         "total joining back as BroadcastHashJoins / the 1-row "
         "broadcast-scalar BNLJ — the big incidence table is never "
         "shuffled more than twice (join key + pair key).",
         plan_of(QUERIES["kg_cooccurrence_pmi"](spark, SF)))
    )

    # 14. BM25: query-term filter pushed below the tf agg, corpus
    # scalars as 1-row broadcasts, global top-k WITHOUT a global window
    sections.append(
        ("bm25_topk (postings-proportional scoring -> TakeOrderedAndProject top-k)",
         "Expect the tok IN (...) Filter BELOW the (doc, tok) "
         "HashAggregate (postings-proportional cost), the N/avgdl "
         "one-row aggregate entering via a broadcast-scalar BNLJ, the "
         "per-doc dl table joining back as a hash join, and the "
         "global top-k as TakeOrderedAndProject — NOT a Window with "
         "no partitioning (which would drain every scored doc to one "
         "partition). The only Window in the plan ranks the k "
         "surviving rows.",
         plan_of(QUERIES["bm25_topk"](spark, SF)))
    )

    # 15. LPA communities: per-round keyed join + combinable count +
    # per-node window, label vector stays narrow
    sections.append(
        ("kg_community_labels (2-round label propagation)",
         "Expect per round exactly ONE join of the symmetric neighbor "
         "table against the label vector (keyed on the neighbor), ONE "
         "partial-aggregated HashAggregate on (v, label), and ONE "
         "Window partitioned by v (WindowGroupLimit for the rn=1 "
         "argmax) — no cartesian, no global window, shuffles keyed on "
         "entity ids only.",
         plan_of(QUERIES["kg_community_labels"](spark, SF)))
    )

    # 16. snapshot diff: tag+union+one combinable groupBy, never a
    # full-outer join
    sections.append(
        ("kg_snapshot_diff (CDC between two snapshots as union + ONE groupBy)",
         "Expect the two snapshot windows (WindowGroupLimit each, "
         "keyed on (subj, pred)) flowing into a Union and ONE "
         "partial-aggregated HashAggregate on the fact key — no "
         "full-outer SortMergeJoin anywhere; the changed/added/removed "
         "classification is a post-aggregate projection.",
         plan_of(QUERIES["kg_snapshot_diff"](spark, SF)))
    )

    # 17. node similarity: wedge equi-join pair generation, no
    # cartesian, degrees joined back keyed
    sections.append(
        ("kg_node_similarity (shared-neighbor wedge join -> combinable pair count)",
         "Expect pair generation as a hash equi-join of the symmetric "
         "neighbor table with itself ON THE NEIGHBOR id (v1 < v2 as a "
         "post-join Filter), ONE partial-aggregated HashAggregate on "
         "(a, b), and the degree table joining back per endpoint — no "
         "CartesianProduct / BroadcastNestedLoopJoin over node pairs "
         "anywhere.",
         plan_of(QUERIES["kg_node_similarity"](spark, SF)))
    )

    # 18. entity profile: three narrow per-entity vectors composed by
    # keyed equi-joins — never a wide shuffle of the edge table
    sections.append(
        ("kg_entity_profile (rank + community + degree vertices table)",
         "Expect the PageRank vector, LPA label vector, and degree "
         "table each reduced to narrow (entity_id, value) aggregates "
         "BEFORE the final composition, then two equi-joins keyed on "
         "entity_id (broadcast at fixture scale is fine; the point is "
         "the join keys are entity ids, so at 10^9 entities it becomes "
         "a co-partitioned shuffle join, never a cartesian) — and no "
         "re-shuffle of the raw edge table after the per-operator "
         "aggregates.",
         plan_of(QUERIES["kg_entity_profile"](spark, SF)))
    )

    # 19. SCD2 fact intervals: all passes co-partitioned on the fact
    # key — expect ONE exchange for the whole chain
    sections.append(
        ("kg_fact_intervals (SCD2 validity intervals from an observation log)",
         "Expect the per-ts collapse (HashAggregate on (subj, pred, "
         "ts)), the lag/run windows, the run collapse, and the lead "
         "window to all reuse ONE hash-partitioning on (subj_id, pred) "
         "— a single Exchange feeding sorts/aggregates/windows, no "
         "self-join of the log, no global window.",
         plan_of(QUERIES["kg_fact_intervals"](spark, SF)))
    )

    # 20. HITS: deferred normalization keeps the gather chain linear
    sections.append(
        ("kg_hits (deferred-normalization hubs/authorities)",
         "Expect a LINEAR chain of per-round gathers — one equi-join "
         "of the distinct edge table against the narrow score vector "
         "+ one partial-aggregated HashAggregate, twice per round — "
         "and exactly TWO 1-row BroadcastNestedLoopJoin/cross joins "
         "total (the final L1 normalizations), NOT two per round; no "
         "per-round scalar join means no doubled-reference plan "
         "blowup.",
         plan_of(QUERIES["kg_hits"](spark, SF)))
    )

    # 21. corpus mix sampling: pure projection + broadcast rate dim —
    # the corpus is never shuffled
    sections.append(
        ("corpus_mix_sample (stratified hash-rate downsampling)",
         "Expect ONE BroadcastHashJoin against the tiny rate dim and "
         "a Filter on the md5-derived bucket — no Exchange of the "
         "documents scan at all (zero shuffles; membership is a pure "
         "projection).",
         plan_of(QUERIES["corpus_mix_sample"](spark, SF)))
    )

    # 22. bounded-hop weighted shortest paths: frontier joins only,
    # per-round min collapse, one final combinable min
    sections.append(
        ("kg_shortest_paths (bounded min-plus relaxation from seeds)",
         "Expect each round to be ONE equi-join of the previous "
         "frontier (already collapsed to one row per entity by a "
         "partial-aggregated min) against the deduped edge table plus "
         "ONE HashAggregate — never a join of the full reached set — "
         "then a Union of the k+1 layers into ONE final combinable "
         "min-groupBy; no cartesian, no global window.",
         plan_of(QUERIES["kg_shortest_paths"](spark, SF)))
    )

    # 23. decontamination: broadcast eval n-grams, corpus never
    # shuffled on n-gram text
    sections.append(
        ("benchmark_decontaminate (n-gram overlap vs eval set)",
         "Expect the corpus n-gram explode as a pure projection "
         "(Generate over transform/sequence) feeding the "
         "BroadcastHashJoin DIRECTLY — no Exchange between the scan "
         "and the join — with the eval side collapsing through its "
         "own distinct into the BroadcastExchange, and the per-doc "
         "DISTINCT count (expand/partial HashAggregates on (doc_id, "
         "ngram)) sitting AFTER the join so the only shuffled "
         "corpus-derived rows are the matched n-grams.",
         plan_of(QUERIES["benchmark_decontaminate"](spark, SF)))
    )

    # 24. point-in-time belief: the interval chain + ONE filter
    sections.append(
        ("kg_belief_asof (point-in-time query over SCD2 intervals)",
         "Expect exactly the kg_fact_intervals plan (single exchange "
         "on the fact key feeding the window/aggregate chain) with "
         "one additional Filter on (valid_from <= T AND (valid_to IS "
         "NULL OR valid_to > T)) — no extra shuffle, no re-sort.",
         plan_of(QUERIES["kg_belief_asof"](spark, SF)))
    )

    # 25. reciprocity: one keyed left-semi self-join, no cartesian
    sections.append(
        ("kg_reciprocity_report (per-predicate symmetric-edge QC)",
         "Expect the distinct edge set built once, ONE left-semi "
         "hash join keyed on the full reversed fact key (pred, "
         "subj, obj)=(pred, obj, subj), two partial-aggregated "
         "per-predicate counts, and a final join on the tiny pred "
         "key — no cartesian, no window.",
         plan_of(QUERIES["kg_reciprocity_report"](spark, SF)))
    )

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan audit (.explain('formatted'))\n\n"
            "Generated by scripts/explain_audit.py against "
            f"{SF}. What to look for is noted per section; plans are "
            "verbatim Catalyst output.\n"
        )
        for title, expectation, plan in sections:
            f.write(f"\n## {title}\n\n*Expectation:* {expectation}\n\n")
            f.write("```\n" + clip(plan) + "\n```\n")
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
