"""KG edge-table materialization (north rule: "materialization of
(subj, pred, obj) triples plus entity/edge tables"): collapse the
mention-level triple table onto canonical entity ids and aggregate one
row per (subj_id, pred, obj_id) graph edge.

The canonical map is whatever canonicalization produced it — in the
CLI, canonicalize.canonicalize_mentions: normalize, then
operators.dedup.near_dup_canonical (content-hash groups, MinHash-LSH,
connected components) over the normalized surfaces — this module only
requires (surface, canonical_id) rows, one per distinct surface.

Scale shape: two keyed equi-joins (surface -> id on each endpoint; the
canonical map shuffles once per side, AQE broadcasts it when small)
followed by ONE map-side-combinable groupBy on (subj_id, pred,
obj_id). Edge weights aggregate partial, so a hot edge (boilerplate
relation) never concentrates rows on a single reducer beyond the
final combine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def entity_edges(triples: DataFrame, canon: DataFrame) -> DataFrame:
    """triples(subj_text, pred, obj_text, obj_prob, doc_id, ...) x
    canon(surface, canonical_id) -> edge table
    (subj_id, pred, obj_id, n_mentions, n_docs, mean_obj_prob).

    Surfaces missing from the canonical map are dropped (inner join):
    an unmapped mention has no node to attach to — materialize the map
    from the same triple table's surfaces to keep every edge."""
    s = canon.select(
        F.col("surface").alias("subj_text"),
        F.col("canonical_id").alias("subj_id"),
    )
    o = canon.select(
        F.col("surface").alias("obj_text"),
        F.col("canonical_id").alias("obj_id"),
    )
    return (
        triples.join(s, "subj_text")
        .join(o, "obj_text")
        .groupBy("subj_id", "pred", "obj_id")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.avg("obj_prob").alias("mean_obj_prob"),
        )
    )


def surface_canonical_map(mentions_canonical: DataFrame) -> DataFrame:
    """(mention_id, surface, surface_norm, canonical_surface_id) rows
    from canonicalize_mentions -> the distinct (surface, canonical_id)
    map entity_edges consumes."""
    return (
        mentions_canonical.select(
            "surface",
            F.col("canonical_surface_id").alias("canonical_id"),
        ).distinct()
    )


def fuse_triples(triples: DataFrame, prob_col: str = "obj_prob") -> DataFrame:
    """Knowledge fusion: collapse mention-level triples that assert the
    same canonical fact (subj_id, pred, obj_id) into ONE fused edge
    whose confidence treats every mention as independent evidence —
    the noisy-or ``1 - prod(1 - p_i)``, computed shuffle-safely as
    ``1 - exp(sum(ln(1 - p_i)))`` so it rides a plain combinable SUM
    instead of an order-sensitive product UDAF.

    Input: (subj_id, pred, obj_id, ``prob_col``, doc_id) mention rows
    (ids from any canonicalization tier). Output one row per fact:
    n_mentions, n_docs, max_prob, conf_noisy_or.

    Scale shape: a single map-side-combinable groupBy on the fact key
    — a boilerplate fact asserted in 10^9 pages partial-aggregates on
    every map task and moves one partial row per task, never the
    mentions. Probabilities are clamped to < 1 so ln stays finite
    (Spark's ``ln(0)`` is NULL where DuckDB's is -inf; the clamp keeps
    both engines on the same finite arithmetic)."""
    p = F.least(F.col(prob_col), F.lit(0.999999999))
    return (
        triples.groupBy("subj_id", "pred", "obj_id")
        .agg(
            F.count(F.lit(1)).alias("n_mentions"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.max(F.col(prob_col)).cast("double").alias("max_prob"),
            (F.lit(1.0) - F.exp(F.sum(F.log(F.lit(1.0) - p))))
            .cast("double")
            .alias("conf_noisy_or"),
        )
    )


def pagerank(
    edges: DataFrame,
    iters: int = 6,
    damping: float = 0.85,
    src: str = "subj_id",
    dst: str = "obj_id",
    weight: str | None = None,
) -> DataFrame:
    """Fixed-iteration weighted PageRank over the KG edge table —
    entity salience for ranking/linking (which 'apple' does a bare
    mention bind to? the high-rank one). GraphX convention: ranks
    start at 1.0, ``rank'(v) = (1-d) + d * Σ_{u→v} rank(u) *
    w(u,v)/outw(u)``, dangling mass not redistributed — deterministic
    and fully expressible as join+groupBy algebra, so the same text
    runs as an unrolled SQL oracle.

    Scale shape per iteration: ONE shuffle join of the (src, dst,
    share) table against the rank vector on src, then ONE map-side
    combinable groupBy on dst, then a left join back to the node set
    — all keyed equi-joins; the edge-share table is computed once and
    persisted, and AQE broadcasts the rank vector when it is small
    relative to edges. For deep iteration counts on a real cluster,
    checkpoint the rank vector every ~10 rounds to truncate lineage;
    at the fixed shallow depth used here the single lazy DAG is
    evaluated once end-to-end."""
    e = edges.select(
        F.col(src).alias("src"),
        F.col(dst).alias("dst"),
        (F.col(weight) if weight else F.lit(1.0)).cast("double").alias("w"),
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("outw"))
    share = e.join(outw, "src").select(
        "src", "dst", (F.col("w") / F.col("outw")).alias("share")
    )
    nodes = (
        e.select(F.col("src").alias("entity_id"))
        .unionByName(e.select(F.col("dst").alias("entity_id")))
        .distinct()
    )
    ranks = nodes.select("entity_id", F.lit(1.0).alias("rank"))
    for _ in range(iters):
        contribs = (
            share.join(ranks, share["src"] == ranks["entity_id"])
            .groupBy(F.col("dst").alias("entity_id"))
            .agg(F.sum(F.col("rank") * F.col("share")).alias("__c"))
        )
        ranks = nodes.join(contribs, "entity_id", "left").select(
            "entity_id",
            (
                F.lit(1.0 - damping)
                + F.lit(damping) * F.coalesce(F.col("__c"), F.lit(0.0))
            ).alias("rank"),
        )
    return ranks.select("entity_id", F.col("rank").cast("double").alias("rank"))


def k_hop(
    edges: DataFrame,
    seeds: DataFrame,
    k: int = 3,
    src: str = "subj_id",
    dst: str = "obj_id",
) -> DataFrame:
    """Minimum-hop reachability from a seed entity set: every entity
    within ``k`` directed hops, with its BFS distance — the
    neighborhood-expansion primitive behind 'everything 2 hops from
    this organization' KG queries. Pass ``src``/``dst`` swapped to
    walk edges backwards (who reaches the seeds).

    Frontier BFS: each round joins only the NEW frontier (not the
    whole reached set) against the edge table and anti-joins out
    already-reached nodes, so per-round work is proportional to the
    frontier boundary, not to everything found so far. All keyed
    equi-joins + distinct — one shuffle pair per hop, k fixed and
    small; the reached set stays (entity_id, dist) narrow no matter
    how wide the graph is."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    reached = (
        seeds.select(F.col(seeds.columns[0]).alias("entity_id"))
        .distinct()
        .withColumn("dist", F.lit(0).cast("int"))
    )
    frontier = reached.select("entity_id")
    for hop in range(1, k + 1):
        nxt = (
            frontier.join(e, frontier["entity_id"] == e["src"])
            .select(F.col("dst").alias("entity_id"))
            .distinct()
            .join(reached.select("entity_id"), "entity_id", "left_anti")
        )
        reached = reached.unionByName(
            nxt.withColumn("dist", F.lit(hop).cast("int"))
        )
        frontier = nxt
    return reached


def cooccurrence_pmi(
    pairs: DataFrame,
    doc_col: str = "doc_id",
    item_col: str = "item",
    min_pairs: int = 2,
) -> DataFrame:
    """Entity co-occurrence graph with PMI edge weights from
    (document, entity) incidence rows — the classic relatedness signal
    behind KG link prediction and embedding pretraining: two entities
    that share documents far more often than their marginals predict
    get a high ``ln(n_ab * N / (n_a * n_b))``.

    Shape: distinct incidence -> self-equi-join on the document key
    with ``a < b`` ordering (each unordered pair materializes exactly
    once) -> ONE combinable groupBy on the pair -> marginal counts and
    the corpus size join back in as broadcasts. The PMI ratio is
    computed integer-exactly (one int multiply per side, one double
    divide, one ln), so the same text hashes identically in DuckDB.

    At web scale the quadratic term is the per-document fan-out: a
    page mentioning m entities emits C(m,2) pairs, so cap entities per
    document UPSTREAM (cheap: filter on a per-doc count window) before
    calling — the join itself is an equi-join and never a cartesian.
    ``min_pairs`` prunes the long random-cooccurrence tail AFTER the
    pair count, which is where 99% of pairs die at corpus scale."""
    d = pairs.select(
        F.col(doc_col).alias("doc"), F.col(item_col).alias("item")
    ).distinct()
    tot = d.agg(F.countDistinct("doc").alias("n_docs"))
    cnt = d.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
    a = d.select("doc", F.col("item").alias("a"))
    b = d.select("doc", F.col("item").alias("b"))
    pair = (
        a.join(b, "doc")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pairs)
    )
    ca = cnt.select(F.col("item").alias("a"), F.col("n").alias("n_a"))
    cb = cnt.select(F.col("item").alias("b"), F.col("n").alias("n_b"))
    return (
        pair.join(F.broadcast(ca), "a")
        .join(F.broadcast(cb), "b")
        .crossJoin(F.broadcast(tot))
        .select(
            "a",
            "b",
            "n_ab",
            F.log(
                (F.col("n_ab") * F.col("n_docs")).cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            )
            .cast("double")
            .alias("pmi"),
        )
    )


def triangle_counts(
    edges: DataFrame, a_col: str = "a", b_col: str = "b"
) -> DataFrame:
    """Per-node triangle participation on an undirected graph — the
    local-clustering signal that separates genuinely interlinked
    entity communities from star-shaped hub noise in a constructed KG.

    Edges are normalized to canonical ``a < b`` orientation first
    (dropping self-loops and duplicate orientations), then each
    triangle x<y<z is enumerated exactly once by the textbook ordered
    two-path + closing-edge equi-join: (x,y)+(y,z) closed by (x,z).
    Per-node counts are the union of the three corner projections
    through one combinable groupBy.

    At scale the ordered join bounds each wedge to its lexicographic
    orientation; for power-law graphs, orient by DEGREE instead
    (low-degree endpoint first — join entity_degrees and swap) so hub
    wedge fan-out is O(m^1.5) worst-case rather than hub-quadratic."""
    e = (
        edges.select(
            F.least(F.col(a_col), F.col(b_col)).alias("a"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    t = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e2.a") == F.col("e1.b"))
        .join(
            e.alias("e3"),
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    corners = (
        t.select(F.col("x").alias("entity_id"))
        .unionByName(t.select(F.col("y").alias("entity_id")))
        .unionByName(t.select(F.col("z").alias("entity_id")))
    )
    return corners.groupBy("entity_id").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def link_mentions(
    mentions: DataFrame,
    ranks: DataFrame,
    mention_col: str = "mention",
) -> DataFrame:
    """Salience-prior entity linking: bind a bare mention token to the
    most salient KG entity whose canonical surface contains it — the
    'which apple?' disambiguation step between canonicalization and
    triple attachment. Candidates are generated by an EQUI-join on the
    exploded surface token (never a LIKE/contains theta-join, which
    would be a broadcast-nested-loop at scale); the winner is the
    argmax of the supplied salience score (e.g. kg.graph.pagerank)
    with a deterministic entity-id tie-break.

    ``mentions(mention)`` x ``ranks(entity_id, rank)`` ->
    (mention, entity_id, rank, n_candidates). n_candidates counts the
    ambiguity the prior resolved; mentions matching nothing drop out
    (inner join) — route them to the LSH/fuzzy tier instead.

    Shape: one explode (bounded by surface word count), one keyed
    equi-join, one window pair on the mention key (single shuffle —
    same partitioning serves the argmax and the candidate count). Hub
    tokens ('inc', 'the') fan out linearly in their entity count; stop
    them upstream with a document-frequency cap on the token table."""
    toks = ranks.select(
        "entity_id",
        "rank",
        F.explode(F.split(F.col("entity_id"), " ")).alias("__tok"),
    ).distinct()  # a word repeated inside one surface matches once
    cand = (
        mentions.select(F.col(mention_col).alias("mention"))
        .distinct()
        .join(toks, F.col("mention") == F.col("__tok"))
    )
    by_mention = Window.partitionBy("mention")
    w = by_mention.orderBy(F.col("rank").desc(), F.col("entity_id").asc())
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "n_candidates", F.count(F.lit(1)).over(by_mention).cast("long")
        )
        .filter(F.col("__rn") == 1)
        .select("mention", "entity_id", "rank", "n_candidates")
    )


def entity_degrees(edges: DataFrame) -> DataFrame:
    """Node-level degree/strength profile of the KG from its edge
    table (subj_id, pred, obj_id, n_mentions, ...): per canonical
    entity the distinct out/in neighbor counts, distinct predicate
    count, and mention-weighted strength. The hub report driving
    skew decisions downstream (a 10^7-degree hub node is exactly the
    key you salt or cap before any per-entity join).

    Shape: two partial aggregations (one per direction) union-merged
    and re-aggregated — every stage map-side combinable, no window,
    no self-join; linear in |E| at any scale.
    """
    out_side = edges.groupBy(F.col("subj_id").alias("entity_id")).agg(
        F.countDistinct("obj_id").alias("out_degree"),
        F.lit(0).cast("long").alias("in_degree"),
        F.collect_set("pred").alias("__preds"),
        F.sum("n_mentions").alias("strength"),
    )
    in_side = edges.groupBy(F.col("obj_id").alias("entity_id")).agg(
        F.lit(0).cast("long").alias("out_degree"),
        F.countDistinct("subj_id").alias("in_degree"),
        F.collect_set("pred").alias("__preds"),
        F.sum("n_mentions").alias("strength"),
    )
    return (
        out_side.unionByName(in_side)
        .groupBy("entity_id")
        .agg(
            F.sum("out_degree").cast("long").alias("out_degree"),
            F.sum("in_degree").cast("long").alias("in_degree"),
            F.size(
                F.array_distinct(F.flatten(F.collect_list("__preds")))
            ).cast("long").alias("n_preds"),
            F.sum("strength").cast("long").alias("strength"),
        )
    )


def degree_histogram(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Log2-bucketed degree distribution of the KG — the one-page
    skew report that decides salting/capping strategy before any
    per-entity join: bucket b holds entities with distinct-neighbor
    degree in [2^b, 2^(b+1)), and a fat tail bucket IS the hot-key
    list. Direction-blind: a neighbor counts once whichever way the
    edge points.

    The bucket is computed integer-exactly as ``length(bin(degree)) -
    1`` (the bit length of a positive integer is floor(log2)+1), so
    there is no float log2 to disagree at exact powers of two across
    engines. Shape: symmetric projection union -> distinct ->
    per-entity count -> ONE tiny groupBy on the bucket; linear in |E|,
    output is O(log max-degree) rows."""
    nbr = (
        edges.select(F.col(src).alias("entity_id"), F.col(dst).alias("nbr"))
        .unionByName(
            edges.select(
                F.col(dst).alias("entity_id"), F.col(src).alias("nbr")
            )
        )
        .filter(F.col("entity_id") != F.col("nbr"))
        .distinct()
    )
    deg = nbr.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("long").alias("degree")
    )
    return (
        deg.withColumn(
            "bucket",
            (F.length(F.bin(F.col("degree"))) - F.lit(1)).cast("int"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_entities"),
            F.min("degree").cast("long").alias("min_degree"),
            F.max("degree").cast("long").alias("max_degree"),
        )
    )


def label_propagation(
    edges: DataFrame,
    iters: int = 2,
    src: str = "subj_id",
    dst: str = "obj_id",
) -> DataFrame:
    """Community detection by synchronous label propagation over the
    undirected KG — the cheap clustering that groups a canonical
    entity with the entities it co-asserts facts with (topic blocks
    for partition routing, candidate pools for linking). Labels start
    as the entity's own id; each round every node adopts the most
    frequent label among its neighbors, ties broken by MIN label —
    fully deterministic, so the same fixed unrolling runs as a SQL
    oracle (unlike classic randomized LPA).

    Domain note (ADVICE r5, deliberately NOT changed in the
    optimization round): the node set is seeded from the self-loop-
    FILTERED neighbor table, so an entity whose only edges are
    self-loops has no community row — and kg_entity_profile's inner
    join consequently omits it. This drop is part of the operator's
    oracle-checked contract; widening the seed would change declared
    query results. Callers needing isolated nodes should left-join
    the vertex table against this output and coalesce to the node's
    own id.

    Scale shape per round: ONE equi-join of the symmetric neighbor
    table against the label vector (keyed on the neighbor), ONE
    map-side-combinable (node, label) count, ONE per-node window for
    the argmax — all shuffles keyed on entity ids; the label vector
    stays (entity_id, label) narrow. Fixed shallow ``iters`` keeps
    the lineage a single lazy DAG; checkpoint every ~10 rounds for
    deep runs on a real cluster."""
    nbr = (
        edges.select(F.col(src).alias("v"), F.col(dst).alias("nbr"))
        .unionByName(
            edges.select(F.col(dst).alias("v"), F.col(src).alias("nbr"))
        )
        .filter(F.col("v") != F.col("nbr"))
        .distinct()
    )
    labels = nbr.select(F.col("v").alias("entity_id")).distinct().select(
        "entity_id", F.col("entity_id").alias("label")
    )
    w = Window.partitionBy("v").orderBy(F.desc("cnt"), F.asc("label"))
    for _ in range(iters):
        counts = (
            nbr.join(
                labels.select(
                    F.col("entity_id").alias("nbr"), "label"
                ),
                "nbr",
            )
            .groupBy("v", "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("v").alias("entity_id"), "label")
        )
    return labels.select("entity_id", F.col("label").alias("community"))


def node_similarity(
    edges: DataFrame,
    min_common: int = 2,
    src: str = "subj_id",
    dst: str = "obj_id",
) -> DataFrame:
    """Common-neighbor Jaccard similarity between entity pairs — the
    standard link-prediction / KG-completion candidate scorer: two
    entities that share most of their neighborhoods are likely to be
    aliases or to deserve edges the extractor missed. Only pairs with
    at least ``min_common`` shared neighbors are emitted (a pair with
    no shared neighbor has similarity 0 and must never be
    materialized — that would be the all-pairs cartesian).

    Shape: pairs meet through a shared-neighbor WEDGE equi-join on
    the neighbor id (the same shape as triangle_counts), ordered
    ``a < b`` so each pair counts once; intersection sizes come from
    ONE combinable groupBy on the pair, degrees join back keyed on
    each endpoint, and ``|A∪B| = d_a + d_b - |A∩B|`` needs no second
    join. At web scale the wedge fan-out of a hub NEIGHBOR is the
    skew risk (a neighbor shared by 10^6 entities emits 10^12
    wedges): cap or drop top-degree neighbors first via
    entity_degrees — standard practice, since a neighbor that common
    carries no similarity signal."""
    nbr = (
        edges.select(F.col(src).alias("v"), F.col(dst).alias("n"))
        .unionByName(
            edges.select(F.col(dst).alias("v"), F.col(src).alias("n"))
        )
        .filter(F.col("v") != F.col("n"))
        .distinct()
    )
    deg = nbr.groupBy("v").agg(F.count(F.lit(1)).alias("degree"))
    wedges = (
        nbr.alias("w1")
        .join(nbr.alias("w2"), F.col("w1.n") == F.col("w2.n"))
        .filter(F.col("w1.v") < F.col("w2.v"))
        .select(F.col("w1.v").alias("a"), F.col("w2.v").alias("b"))
    )
    inter = wedges.groupBy("a", "b").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    da = deg.select(F.col("v").alias("a"), F.col("degree").alias("degree_a"))
    db = deg.select(F.col("v").alias("b"), F.col("degree").alias("degree_b"))
    return (
        inter.filter(F.col("n_common") >= min_common)
        .join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("entity_a"),
            F.col("b").alias("entity_b"),
            F.col("n_common").cast("long").alias("n_common"),
            F.col("degree_a").cast("long").alias("degree_a"),
            F.col("degree_b").cast("long").alias("degree_b"),
            (
                F.col("n_common").cast("double")
                / (
                    F.col("degree_a") + F.col("degree_b") - F.col("n_common")
                ).cast("double")
            ).alias("jaccard"),
        )
    )


def hits(
    edges: DataFrame,
    iters: int = 3,
    src: str = "subj_id",
    dst: str = "obj_id",
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg hubs & authorities) over the
    directed KG edge set — the complement of PageRank salience: an
    AUTHORITY is an entity many well-connected subjects point at (a
    good link target), a HUB is a subject that points at many strong
    authorities (a good aggregation page / list entity). Per round,
    auth(v) = Σ_{u→v} hub(u) then hub(u) = Σ_{u→v} auth(v); the
    classical per-round normalization is deferred to ONE final L1
    normalization of each vector — every per-round normalizer is a
    scalar that factors straight through the linear gathers, so the
    end vectors are identical (and the L1 choice keeps the oracle
    plain aggregate algebra; the L2 variant needs sqrt and gains
    nothing for ranking). Deferring it matters for the PLAN: a
    normalization inside the loop references its input twice (rows +
    scalar total), doubling the operator tree per round — exponential
    Catalyst blowup by depth 3 — while the raw gather chain grows
    linearly exactly like pagerank(). Duplicate edges collapse first,
    so the scores are a pure function of the edge SET.

    Scale shape per round: one keyed equi-join of the edge table
    against a narrow (entity_id, score) vector + one map-side
    combinable groupBy, twice; the two final normalizations are each
    ONE scalar aggregate broadcast back (a 1-row cross join — never a
    skewed key). Checkpoint the score vectors every ~10 rounds at
    depth on a real cluster."""
    if iters < 1:
        raise ValueError("hits() needs iters >= 1")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("entity_id"))
        .unionByName(e.select(F.col("dst").alias("entity_id")))
        .distinct()
    )
    hub = nodes.select("entity_id", F.lit(1.0).alias("hub"))
    auth_raw = None
    for _ in range(iters):
        auth_raw = (
            e.join(hub, e["src"] == hub["entity_id"])
            .groupBy(F.col("dst").alias("entity_id"))
            .agg(F.sum("hub").alias("auth"))
        )
        hub = (
            e.join(auth_raw, e["dst"] == auth_raw["entity_id"])
            .groupBy(F.col("src").alias("entity_id"))
            .agg(F.sum("auth").alias("hub"))
        )

    def _norm(vec: DataFrame, col: str) -> DataFrame:
        full = nodes.join(vec, "entity_id", "left").select(
            "entity_id", F.coalesce(F.col(col), F.lit(0.0)).alias(col)
        )
        tot = full.agg(F.sum(col).alias("__tot"))
        return full.crossJoin(F.broadcast(tot)).select(
            "entity_id", (F.col(col) / F.col("__tot")).alias(col)
        )

    return _norm(hub, "hub").join(_norm(auth_raw, "auth"), "entity_id").select(
        "entity_id",
        F.col("hub").cast("double").alias("hub"),
        F.col("auth").cast("double").alias("auth"),
    )


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    k: int = 3,
    src: str = "subj_id",
    dst: str = "obj_id",
    weight: str | None = None,
) -> DataFrame:
    """Bounded-hop weighted shortest paths from a seed entity set: the
    minimum total edge weight reachable within ``k`` directed hops —
    the weighted complement of ``k_hop`` (hop counts) for 'how closely
    is this entity tied to the seed organizations' relevance scoring.
    ``weight`` defaults to 1.0 per edge (then dist == hop distance).
    Non-negative weights assumed (min-plus relaxation, k rounds of
    Bellman-Ford); within the hop bound the result is exact and
    deterministic (min is order-free).

    Shape: k frontier expansions — each joins ONLY the previous
    round's path extensions (not the whole reached set) against the
    edge table, all keyed equi-joins — then ONE map-side combinable
    min-groupBy over the unioned candidate set. Per-round work is
    proportional to the path frontier; the final fold is one shuffle
    of narrow (entity_id, dist) rows. For paths-per-round growth on
    dense cyclic graphs, collapse each frontier to per-entity min
    first (the groupBy below does it once at the end because k is
    fixed and small here; at depth, fold per round)."""
    if k < 1:
        raise ValueError("shortest_paths() needs k >= 1")
    e = (
        edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            (F.col(weight) if weight else F.lit(1.0))
            .cast("double")
            .alias("w"),
        )
        # null endpoints/weights would emit null-keyed "reached" rows
        # (groupBy keeps null keys; null + w propagates) — drop them
        # like hits() does
        .filter(
            F.col("src").isNotNull()
            & F.col("dst").isNotNull()
            & F.col("w").isNotNull()
        )
        .groupBy("src", "dst")
        .agg(F.min("w").alias("w"))
    )
    frontier = (
        seeds.select(F.col(seeds.columns[0]).alias("entity_id"))
        .distinct()
        .withColumn("dist", F.lit(0.0).cast("double"))
    )
    layers = [frontier]
    for _ in range(k):
        frontier = (
            frontier.join(e, frontier["entity_id"] == e["src"])
            .select(
                F.col("dst").alias("entity_id"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            # per-round min collapse: keeps the next frontier one row
            # per entity, so path count cannot grow combinatorially
            # around cycles
            .groupBy("entity_id")
            .agg(F.min("dist").alias("dist"))
        )
        layers.append(frontier)
    allc = layers[0]
    for l in layers[1:]:
        allc = allc.unionByName(l)
    return allc.groupBy("entity_id").agg(
        F.min("dist").cast("double").alias("dist")
    )


def random_walks(
    edges: DataFrame,
    length: int = 4,
    src: str = "subj_id",
    dst: str = "obj_id",
    seed: str = "walk-v1",
) -> DataFrame:
    """Deterministic seeded random walks over the directed KG — the
    node2vec/DeepWalk-style corpus prep that turns a constructed graph
    into embedding-training sequences. One walk starts at every node;
    at step t the walker at node v picks out-neighbor
    ``sorted_nbrs(v)[ h60(walk_id|seed|t) % outdeg(v) ]`` — a pure
    hash draw, so the walk corpus is a deterministic function of the
    edge SET and the seed (re-drawable by changing ``seed``; stable
    across partitionings and cluster sizes, unlike rand()-based
    walkers). Walks stop early at sink nodes (no out-edges). Output is
    the exploded (walk_id, step, node) sequence table.

    Scale shape: the neighbor-list table is ONE groupBy (sorted array
    per src — bound the array by capping super-hub out-degrees
    upstream via entity_degrees if needed); each step is ONE keyed
    equi-join of the narrow (walk_id, cur) frontier against it plus a
    pure-projection hash pick — length is fixed and small, no
    driver-side state, no rand() nondeterminism."""
    from ..operators.hashing import h60

    if length < 1:
        raise ValueError("random_walks() needs length >= 1")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    nbrs = e.groupBy("src").agg(
        F.array_sort(F.collect_list("dst")).alias("nbrs")
    )
    nodes = (
        e.select(F.col("src").alias("entity_id"))
        .unionByName(e.select(F.col("dst").alias("entity_id")))
        .distinct()
    )
    frontier = nodes.select(
        F.col("entity_id").alias("walk_id"), F.col("entity_id").alias("cur")
    )
    steps = [
        frontier.select(
            "walk_id",
            F.lit(0).cast("int").alias("step"),
            F.col("cur").alias("node"),
        )
    ]
    for t in range(1, length + 1):
        pick = (
            h60(
                F.concat_ws(
                    "|", F.col("walk_id"), F.lit(seed), F.lit(str(t))
                )
            )
            % F.size(F.col("nbrs"))
        ).cast("int") + 1
        frontier = frontier.join(
            nbrs, frontier["cur"] == nbrs["src"]
        ).select(
            "walk_id", F.element_at(F.col("nbrs"), pick).alias("cur")
        )
        steps.append(
            frontier.select(
                "walk_id",
                F.lit(t).cast("int").alias("step"),
                F.col("cur").alias("node"),
            )
        )
    out = steps[0]
    for s in steps[1:]:
        out = out.unionByName(s)
    return out
