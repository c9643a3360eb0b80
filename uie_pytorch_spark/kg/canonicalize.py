"""Entity canonicalization (∅J6 in SURVEY §2.3): map surface forms of
extracted entities to canonical ids.

Three steps (canonicalize_mentions):
  1. normalize: lower/trim/whitespace-collapse + full-width fold, then
     one ``distinct`` over the normalized surfaces;
  2. near-match: MinHash LSH over char shingles of the normalized
     surface (operators/dedup.py) -> candidate pairs with Jaccard
     verify;
  3. transitive closure: connected components over the verified-pair
     graph via small-star/large-star label propagation, one aggregate
     per round (Kiveris et al., "Connected Components in MapReduce and
     Beyond", SOCC'14) — pyspark-only, no GraphFrames dependency,
     converges in O(log n) rounds for web-ish graphs.

Skew: hot surface forms (boilerplate entities like "北京") concentrate
on few keys; the ``distinct`` is map-side combined, so a hot surface
reaches its reducer as one row per map task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.textnorm import DBC_FROM, DBC_TO
from ..operators import dedup as D


def normalize_surface(col):
    # full-width fold + ideographic space (the engine's dbc2sbc keeps
    # U+3000 for reference parity; canonicalization wants it folded)
    c = F.translate(col, DBC_FROM + "　", DBC_TO + " ")
    return F.trim(F.regexp_replace(F.lower(c), r"(?U)\s+", " "))


def near_match_edges(
    surfaces: DataFrame, jaccard_threshold: float = 0.6, shingle: int = 3
) -> DataFrame:
    """surfaces(sid, surface_norm) -> verified near-duplicate edges
    (src, dst): MinHash LSH candidates filtered by exact n-gram
    Jaccard. At scale the Jaccard verify runs ONLY on LSH candidates."""
    docs = surfaces.select(
        F.col("sid").alias("doc_id"), F.col("surface_norm").alias("text")
    )
    sig = D.minhash_sig_array(docs, width=shingle)
    cands = D.lsh_candidate_pairs(sig)
    verified = D.jaccard_pairs(
        docs, threshold=jaccard_threshold, width=shingle, candidates=cands
    )
    return verified.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )


def _ckpt_with_signature(df: DataFrame):
    """Eagerly localCheckpoint ``df`` and return (checkpointed_df,
    signature) where signature = (count, bit_xor of row hashes, min v)
    — an overflow-safe change detector (ids are xxhash64-scale, so
    arithmetic sums overflow ANSI). The signature rides the CHECKPOINT
    materialization itself via an in-plan ``observe`` (CollectMetrics
    is a row-level pass-through, so the checkpointed data is
    untouched): one Spark job per CC round where a separate
    ``agg().collect()`` used to cost a second driver-synced job —
    measured delivery works for the eager-checkpoint action."""
    from pyspark.sql import Observation

    obs = Observation()
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(u, v))").alias("s"),
        F.min("v").alias("m"),
    ).localCheckpoint(eager=True)
    m = obs.get
    return out, (m["n"], m["s"], m["m"])


def _normalize_ckpt(pairs: DataFrame):
    """(u, v) pairs -> checkpointed undirected edge set with u > v:
    self-loops dropped, each pair oriented by greatest/least, duplicates
    removed, then _ckpt_with_signature. The initial step and every CC
    round end here."""
    return _ckpt_with_signature(
        pairs.filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )


def connected_components(
    edges: DataFrame, max_iterations: int = 20
) -> DataFrame:
    """(src, dst) undirected edges -> (id, component) with component =
    min node id in the component. Each round applies large-star and
    small-star at once: every member of u's closed neighbourhood links
    to m_u = min(N(u) ∪ {u}), computed as ONE groupBy over both edge
    orientations (min + collect_list of the neighbours) and no join.
    Deterministic; loops terminate when the edge set stops changing
    (checked via a cheap aggregate signature collected BY the
    per-round checkpoint job — see _ckpt_with_signature).

    Skew: collect_list holds a node's whole neighbour list in one row,
    so a hub's edges meet on one reducer (as any groupBy or join keyed
    on the node would send them); not measured at web scale.

    If ``max_iterations`` stops the loop early, every node with an edge
    to another node still gets a row, labelled with a node of its own
    component."""
    spark = edges.sparkSession
    # the checkpoint cuts the upstream DAG once — edge construction may
    # sit on an expensive lineage (model inference); every CC round
    # would otherwise recompute it. Its observed count also answers the
    # emptiness probe.
    e, prev_sig = _normalize_ckpt(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    )
    if prev_sig[0] == 0:
        return spark.createDataFrame([], "id: long, component: long")

    # Seeding prev_sig with the INITIAL edge signature adds one extra
    # exit opportunity (an already-converged star graph breaks after
    # round 1 instead of 2); the round map is a deterministic function
    # of e, so breaking on e_k == e_{k-1} yields the same final e.
    for _ in range(max_iterations):
        star = (
            e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .groupBy("u")
            .agg(F.min("v").alias("mn"), F.collect_list("v").alias("vs"))
        )
        # the checkpoint truncates lineage each round — the iterated
        # plan otherwise grows every round — and its observe carries
        # the convergence signature for free
        e, sig = _normalize_ckpt(
            star.select(
                F.explode(F.concat("vs", F.array("u"))).alias("u"),
                F.least("mn", "u").alias("v"),
            )
        )
        if sig == prev_sig:
            break
        prev_sig = sig

    # each u takes its smallest linked v; every v also labels itself,
    # which covers the roots (and, when the loop was cut short, nodes
    # seen only as a smaller end)
    return (
        e.union(e.select(F.col("v").alias("u"), "v"))
        .groupBy(F.col("u").alias("id"))
        .agg(F.min("v").alias("component"))
    )


def canonicalize_mentions(
    mentions: DataFrame, jaccard_threshold: float = 0.6
) -> DataFrame:
    """Full pipeline: mentions(mention_id, surface) ->
    (mention_id, surface, surface_norm, canonical_surface_id) where
    near-duplicate normalized surfaces share one canonical id."""
    m = mentions.select(
        "mention_id",
        "surface",
        normalize_surface(F.col("surface")).alias("surface_norm"),
    ).persist()
    surfaces = (
        m.select("surface_norm")
        .distinct()
        .withColumn("sid", F.xxhash64("surface_norm"))
        .persist()
    )
    edges = near_match_edges(surfaces, jaccard_threshold)
    comps = connected_components(edges)
    canon = surfaces.join(
        comps, surfaces.sid == comps.id, "left"
    ).select(
        "surface_norm",
        F.coalesce(F.col("component"), F.col("sid")).alias("canonical_surface_id"),
    )
    return m.join(canon, "surface_norm")
