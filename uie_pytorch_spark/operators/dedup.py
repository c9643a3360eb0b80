"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard — the corpus-prep layer a 100 TB web-text pipeline runs before
extraction (boilerplate/mirror removal).

Scale design:
  * exact dedup: one hash-groupBy, map-side combinable.
  * minhash: shingle explode -> ONE md5 per shingle -> k affine
    permutations as k parallel min buffers in a single
    partial-aggregatable groupBy producing an ARRAY signature;
    banding is a native projection of the array; candidate search is
    an equi-join on (band_id, band_hash) instead of O(n^2) pairs.
  * near_dup_canonical collapses EXACT duplicates (content hash)
    BEFORE the near-dup tier — mirror clusters (the dominant web-scale
    duplication) cost O(1) there instead of O(m^2) bucket pairs; a
    bucket-size cap backstops near-identical boilerplate families.
  * pairwise Jaccard runs ONLY on LSH candidates at scale; the
    all-pairs variant here is for oracle verification at test SF.
  * skew: boilerplate shingles hash-bucket evenly by construction
    (keys are hashes); hot bands are handled by AQE skew-join.

Oracle-compatible hashing throughout (md5-derived h60; see hashing.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hashing import MINHASH_COEFFS, MINHASH_PRIME, h60
from .util import spread

DEFAULT_K = 12       # minhash permutations
DEFAULT_BANDS = 4    # LSH bands (rows per band = K / BANDS)
DEFAULT_SHINGLE = 5  # char-shingle width
# Production posture: band buckets larger than this are dropped from
# candidate generation (see lsh_candidate_pairs). Exact duplicates are
# pre-collapsed first, so buckets above the cap are near-identical
# boilerplate families whose O(m^2) pairwise linkage adds nothing.
# Measured at sf0.1: identical canonical output, 99 s -> 18 s.
DEFAULT_MAX_BUCKET_SIZE = 512


def exact_dup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicates by content hash: returns (content_hash,
    n_dups, canonical_doc_id=min) for groups with >1 member."""
    return (
        docs.select("doc_id", F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_dups") > 1)
    )


def shingle_set(t: F.Column, width: int = DEFAULT_SHINGLE) -> F.Column:
    """Distinct char shingles of ``t`` as an array (native
    sequence+transform, no Python). NULL text gives ``[NULL]``."""
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - (width - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: t.substr(i, F.lit(width))))


def shingles(docs: DataFrame, text_col: str = "text", width: int = DEFAULT_SHINGLE) -> DataFrame:
    """Distinct char shingles per doc, one row each."""
    return docs.select(
        "doc_id", F.explode(shingle_set(F.col(text_col), width)).alias("shingle")
    )


def minhash_sig_array(
    docs: DataFrame,
    text_col: str = "text",
    k: int = DEFAULT_K,
    width: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """(doc_id, sig: array<bigint> of length k). ONE md5 per distinct
    (doc, shingle) + k affine permutations (a*h32 + b) % P over the low
    32 bits (hashing.MINHASH_COEFFS).

    Round-6 note: the shingle explode + k-buffer groupBy stays — a
    per-row fold of all k mins (aggregate/zip_with) was tried and is
    2x SLOWER per core: higher-order functions are CodegenFallback,
    so the md5 chain runs interpreted, while this shape keeps md5 and
    the affine mixes inside whole-stage codegen. What round 6 adds is
    ``spread`` below: the per-(doc,shingle) md5 work is the operator's
    dominant cost and otherwise runs entirely inside the scan task(s)
    of the input — one task for a single-row-group fixture file."""
    if k > len(MINHASH_COEFFS):
        raise ValueError(
            f"k={k} exceeds the {len(MINHASH_COEFFS)} fixed permutations"
        )
    sh = shingles(spread(docs.select("doc_id", text_col)), text_col, width)
    h32 = h60(F.col("shingle")).bitwiseAND(F.lit(4294967295))
    proj = sh.select(
        "doc_id",
        *[
            ((F.lit(a) * h32 + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(f"_m{i}")
            for i, (a, b) in enumerate(MINHASH_COEFFS[:k])
        ],
    )
    agg = proj.groupBy("doc_id").agg(
        *[F.min(f"_m{i}").alias(f"_m{i}") for i in range(k)]
    )
    return agg.select(
        "doc_id", F.array(*[F.col(f"_m{i}") for i in range(k)]).alias("sig")
    )


def minhash_signature(
    docs: DataFrame,
    text_col: str = "text",
    k: int = DEFAULT_K,
    width: int = DEFAULT_SHINGLE,
) -> DataFrame:
    """Long format (doc_id, perm, minhash) — posexplode of the array
    signature (kept for oracle checking and downstream long-format
    consumers)."""
    return minhash_sig_array(docs, text_col, k, width).select(
        "doc_id", F.posexplode("sig").alias("perm", "minhash")
    )


def band_hashes(
    sig: DataFrame, k: int = DEFAULT_K, bands: int = DEFAULT_BANDS
) -> DataFrame:
    """(doc_id, band, band_hash) from the array signature: band b
    hashes sig[b*rows .. b*rows+rows-1] in perm order (no sort, no
    collect_list — the banding is a single native projection).

    ``k`` must divide evenly into ``bands``: a non-zero remainder
    would silently drop the tail permutations from candidate
    generation (a recall change the caller never sees), so it is an
    error rather than a default."""
    if k % bands != 0:
        raise ValueError(
            f"k={k} not divisible by bands={bands}: the {k % bands} "
            "tail permutations would be silently excluded from every "
            "band — pick k, bands with k % bands == 0"
        )
    rows_per_band = k // bands
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col("sig")[b * rows_per_band + j].cast("string")
                            for j in range(rows_per_band)
                        ],
                    )
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return sig.select("doc_id", F.explode(entries).alias("e")).select(
        "doc_id", F.col("e.band").alias("band"), F.col("e.band_hash").alias("band_hash")
    )


def lsh_candidate_pairs(
    sig: DataFrame,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    max_bucket_size: int | None = None,
    observation=None,
) -> DataFrame:
    """Band the array signature (minhash_sig_array output), bucket-join
    docs sharing a band hash. Returns distinct (doc_a < doc_b)
    candidate pairs.

    ``max_bucket_size``: drop band buckets with more than this many
    members before the self-join. A bucket of m docs emits m(m-1)/2
    pairs — unbounded buckets are the one quadratic left in the
    near-dup tier at web scale. Callers must collapse EXACT duplicates
    first (near_dup_canonical does); buckets still above the cap after
    that are boilerplate families whose pairwise linkage adds nothing
    a cheaper exact/boilerplate tier doesn't. Default None = complete
    candidate generation (the oracle-checked setting).

    ``observation``: an optional ``pyspark.sql.Observation``; when the
    cap is active, the SAME action that consumes the pairs also
    records ``dropped_buckets`` / ``dropped_member_rows`` into it (an
    in-plan ``observe`` node over the bucket-count aggregate — zero
    extra jobs), so capped runs are never silent."""
    banded = band_hashes(sig, k, bands)
    if max_bucket_size is not None:
        counts = banded.groupBy("band", "band_hash").agg(
            F.count(F.lit(1)).alias("_n")
        )
        if observation is not None:
            counts = counts.observe(
                observation,
                F.sum(
                    F.when(F.col("_n") > max_bucket_size, 1).otherwise(0)
                ).alias("dropped_buckets"),
                F.sum(
                    F.when(
                        F.col("_n") > max_bucket_size, F.col("_n")
                    ).otherwise(0)
                ).alias("dropped_member_rows"),
            )
        ok = counts.filter(F.col("_n") <= max_bucket_size).select(
            "band", "band_hash"
        )
        banded = banded.join(ok, ["band", "band_hash"], "left_semi")
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    width: int = DEFAULT_SHINGLE,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """n-gram (char-shingle) Jaccard similarity pairs >= threshold.
    With ``candidates`` given, each candidate PAIR is joined to its two
    docs' shingle arrays and scored with ``array_intersect`` (work is
    O(|candidates| * shingles-per-doc), no shingle rows, no aggregate).
    Without ``candidates``: all pairs sharing >=1 shingle (oracle/test
    path, O(n^2) by design). Either way a NULL text matches nothing."""
    if candidates is not None:
        # drop NULL texts: array_intersect([NULL], [NULL]) is [NULL]
        sets = docs.filter(F.col(text_col).isNotNull()).select(
            "doc_id", shingle_set(F.col(text_col), width)
        )
        scored = (
            candidates.select("doc_a", "doc_b")
            .join(sets.toDF("doc_a", "sa"), "doc_a")
            .join(sets.toDF("doc_b", "sb"), "doc_b")
            .selectExpr(
                "doc_a", "doc_b",
                "CAST(size(array_intersect(sa, sb)) AS LONG) AS inter",
                "CAST(size(sa) AS LONG) AS sz_a", "CAST(size(sb) AS LONG) AS sz_b",
            )
            .filter("inter > 0")  # as all-pairs: no shared shingle, no pair
        )
    else:
        sh = shingles(docs, text_col, width)
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
        a = sh.alias("a")
        b = sh.alias("b")
        inter = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        scored = inter.join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a"
        ).join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
    return (
        scored.withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "inter", "sz_a", "sz_b", "jaccard")
    )


def near_dup_canonical(
    docs: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    width: int = DEFAULT_SHINGLE,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    observation=None,
) -> DataFrame:
    """End-to-end near-duplicate document canonicalization — the
    corpus-dedup composition a web-text pipeline runs before training:
    EXACT pre-collapse (content hash) -> MinHash -> LSH banding
    (candidates) -> exact Jaccard verify (on candidates ONLY) ->
    connected components over verified edges -> fan the canonical id
    back out through the exact-dup map. Returns (doc_id,
    canonical_doc_id = min doc id of the duplicate cluster; docs in no
    cluster map to themselves). Keeping `WHERE doc_id =
    canonical_doc_id` yields the deduplicated corpus.

    The pre-collapse is the web-scale load-bearer: identical documents
    have identical signatures, so a mirror cluster of m copies would
    land whole in every band bucket and emit m(m-1)/2 candidate pairs
    per band — quadratic on exactly the duplication dedup exists for
    (mirror crawls). Collapsing to one representative per distinct
    content first makes that cluster cost O(1) in the near-dup tier,
    and provably does not change the output: identical contents share
    all shingles, so the old pipeline always merged them (Jaccard = 1)
    and every rep-level edge existed doc-level and vice versa. The
    min-rep of a merged component equals the min doc id of the full
    cluster because each rep is already its content group's min.

    Scale shape: every step is the audited scale path (one content-hash
    groupBy, banded equi-join, candidate-only Jaccard on shingle arrays,
    small/large-star CC at one aggregate per round with per-round
    lineage cuts); no all-pairs work
    anywhere. ``max_bucket_size`` additionally caps LSH band buckets
    (see lsh_candidate_pairs) as the backstop for near-identical — not
    identical — boilerplate families; it defaults ON
    (DEFAULT_MAX_BUCKET_SIZE — the 100 TB posture; pass None for
    complete generation), and passing an ``observation`` records how
    many buckets/rows the cap dropped in the consuming action."""
    from ..kg.canonicalize import connected_components  # local: avoids cycle

    # NULL text must NOT collapse: md5(NULL) is NULL for every such
    # row, so a plain hash key would merge all null-text docs into one
    # "cluster". Key them on a per-doc sentinel instead — each maps to
    # itself (null shingles drop them from signatures anyway).
    hashed = docs.select(
        "doc_id",
        F.col(text_col).alias("text"),
        F.coalesce(
            F.md5(F.col(text_col)),
            F.concat(F.lit("null-"), F.col("doc_id").cast("string")),
        ).alias("content_hash"),
    )
    # one representative (min doc_id) per distinct content; F.first on
    # text is deterministic here — every text in the group is identical
    groups = hashed.groupBy("content_hash").agg(
        F.min("doc_id").alias("rep_id"), F.first("text").alias("text")
    )
    reps = groups.select(F.col("rep_id").alias("doc_id"), "text")

    sig = minhash_sig_array(reps, "text", width=width)
    cands = lsh_candidate_pairs(
        sig, max_bucket_size=max_bucket_size, observation=observation
    )
    verified = jaccard_pairs(
        reps, threshold=threshold, text_col="text", width=width,
        candidates=cands,
    ).select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    comps = connected_components(verified)

    rep_canon = groups.select("content_hash", "rep_id").join(
        comps, F.col("rep_id") == comps["id"], "left"
    ).select(
        "content_hash",
        F.coalesce(F.col("component"), F.col("rep_id")).alias(
            "canonical_doc_id"
        ),
    )
    return hashed.select("doc_id", "content_hash").join(
        rep_canon, "content_hash"
    ).select("doc_id", "canonical_doc_id")


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 60) -> DataFrame:
    """60-bit SimHash over whitespace tokens weighted by term
    frequency: bit j of the fingerprint is set when the tf-weighted
    sum of (+1 / -1) for that bit over all tokens is positive.
    (Round 6: a ``spread`` parallelism floor was measured here and
    reverted — the callers pass small slices and the extra exchange
    cost more than the per-token compute it parallelized.)"""
    toks = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.col(text_col), F.lit(r"[\S]+"), 0)).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    tf = tf.withColumn("h", h60(F.col("tok")))
    bitrows = tf.select(
        "doc_id",
        "tf",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
    ).withColumn(
        # shiftright with a COLUMN bit count needs the SQL form
        "contrib",
        F.expr(
            "tf * (CASE WHEN (shiftright(h, bit) & 1) = 1 THEN 1 ELSE -1 END)"
        ),
    )
    return (
        bitrows.groupBy("doc_id", "bit")
        .agg(F.sum("contrib").alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN s > 0 THEN shiftleft(CAST(1 AS BIGINT), bit) "
                    "ELSE CAST(0 AS BIGINT) END"
                )
            ).alias("simhash")
        )
    )


def cdc_segments(
    docs: DataFrame,
    text_col: str = "text",
    width: int = DEFAULT_SHINGLE,
    mask: int = 63,
) -> DataFrame:
    """Content-defined chunking: split each document into variable-
    length segments whose boundaries are picked BY CONTENT (positions
    where the rolling window hash hits ``h % (mask+1) == 0``;
    expected segment length ~= mask+1 chars), not by fixed offsets.
    The CDC property that makes this the segment-dedup weapon: two
    documents sharing a text region produce IDENTICAL segments inside
    that region even when it sits at different offsets (an insertion
    only perturbs the segments it touches), so shared boilerplate
    paragraphs collapse under one content hash where fixed-width
    chunking would share nothing.

    Returns (doc_id, seg_idx, seg_start, seg_len, seg_hash) —
    seg_start is 1-based, seg_hash = md5 of the segment text.

    Scale shape: segmentation is ENTIRELY per-row array algebra
    (sequence -> filter -> zip_with -> posexplode) — zero shuffles,
    whole-stage codegen, and the document text is never replicated
    per segment in any exchange; only the downstream seg_hash groupBy
    (one combinable agg) shuffles, carrying hashes, not text."""
    t = F.col(text_col)
    n = F.length(t)
    idx = F.sequence(F.lit(1), F.greatest(n - (width - 1), F.lit(1)))
    bnd = F.filter(
        idx,
        lambda i: (h60(t.substr(i, F.lit(width))) % F.lit(mask + 1))
        == F.lit(0),
    )
    starts = F.array_sort(
        F.array_distinct(F.concat(F.array(F.lit(1)), bnd))
    )
    ends = F.concat(
        F.slice(starts, 2, F.greatest(F.size(starts) - 1, F.lit(0))),
        F.array(n + 1),
    )
    segs = F.zip_with(
        starts,
        ends,
        lambda s, e: F.struct(
            s.alias("seg_start"),
            (e - s).alias("seg_len"),
            F.md5(t.substr(s, e - s)).alias("seg_hash"),
        ),
    )
    return (
        docs.filter(n > 0)
        .select("doc_id", F.posexplode(segs).alias("seg_idx", "seg"))
        .select(
            "doc_id",
            (F.col("seg_idx") + 1).alias("seg_idx"),
            F.col("seg.seg_start").alias("seg_start"),
            F.col("seg.seg_len").alias("seg_len"),
            F.col("seg.seg_hash").alias("seg_hash"),
        )
    )


def cdc_shared_segments(
    docs: DataFrame,
    text_col: str = "text",
    width: int = DEFAULT_SHINGLE,
    mask: int = 63,
    min_len: int = 20,
) -> DataFrame:
    """Cross-document boilerplate report: CDC segments of at least
    ``min_len`` chars that occur in MORE than one document, with how
    many docs share them — the paragraph-level twin of
    exact_dup_groups (Lee et al.'s dedup intuition at segment
    granularity). One combinable groupBy over segment hashes."""
    segs = cdc_segments(docs, text_col, width, mask)
    return (
        segs.filter(F.col("seg_len") >= min_len)
        .groupBy("seg_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("seg_len").alias("seg_len"),
        )
        .filter(F.col("n_docs") > 1)
    )
