"""Entity canonicalization (∅J6 in SURVEY §2.3): map surface forms of
extracted entities to canonical ids.

Three steps (canonicalize_mentions):
  1. normalize: lower/trim/whitespace-collapse + full-width fold;
  2. near_dup_canonical (operators/dedup.py), the one composition of
     the near-duplicate tier: one content-hash group per normalized
     surface, MinHash LSH over its char shingles -> candidate pairs
     with Jaccard verify, then their transitive closure
     (connected_components, in the same module);
  3. project the canonical id back onto each mention.

Skew: hot surface forms (boilerplate entities like "北京") concentrate
on few keys; near_dup_canonical's content-hash groupBy is map-side
combined, so a hot surface reaches its reducer as one row per map task.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.textnorm import DBC_FROM, DBC_TO
from ..operators import dedup as D


def normalize_surface(col):
    # full-width fold + ideographic space (the engine's dbc2sbc keeps
    # U+3000 for reference parity; canonicalization wants it folded)
    c = F.translate(col, DBC_FROM + "　", DBC_TO + " ")
    return F.trim(F.regexp_replace(F.lower(c), r"(?U)\s+", " "))


def canonicalize_mentions(
    mentions: DataFrame,
    jaccard_threshold: float = 0.6,
    held: ExitStack | None = None,
) -> DataFrame:
    """Full pipeline: mentions(mention_id, surface) ->
    (surface_norm, mention_id, surface, canonical_surface_id) where
    near-duplicate normalized surfaces share one canonical id.

    Every mention of one normalized surface gets doc_id =
    xxhash64(surface_norm), the id of its content group. The normalized
    mentions are one eager localCheckpoint; it and near_dup_canonical's
    checkpoints are registered on ``held`` when given, for the caller
    to close once the result is consumed (see near_dup_canonical)."""
    m = mentions.select(
        "mention_id",
        "surface",
        normalize_surface(F.col("surface")).alias("surface_norm"),
    ).localCheckpoint(eager=True)
    if held is not None:
        held.callback(D.drop_checkpoint, m)
    canon = D.near_dup_canonical(
        m.withColumn("doc_id", F.xxhash64("surface_norm")),
        jaccard_threshold,
        text_col="surface_norm",
        width=3,
        max_bucket_size=None,
        held=held,
    )
    return canon.select(
        "surface_norm", "mention_id", "surface",
        F.col("canonical_doc_id").alias("canonical_surface_id"),
    )
