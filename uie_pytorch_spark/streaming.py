"""Incremental crawl ingestion via Structured Streaming.

The reference is pure batch (SURVEY §2.11); the 10^12-doc backfill is
batch too (kg/lineage.py). This module adds the *incremental* path:
new crawl files landing in a directory are picked up exactly once
(file-source checkpointing) and run through the SAME multi-stage
extraction engine via foreachBatch — the engine itself is
micro-batch-agnostic because it is deterministic and per-doc.

Trigger.AvailableNow semantics: process everything currently
available, then stop — the natural shape for a cron-scheduled
incremental crawl sweep; switch the trigger for continuous tailing.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .engine import UIEConfig, UIEEngine
from .sources.web_pages import WEB_PAGES_SCHEMA


def _write_epoch(triples: DataFrame, output_path: str, epoch_id: int) -> None:
    """Idempotent micro-batch sink. foreachBatch is at-least-once: a
    failed/restarted epoch is REPLAYED with the SAME epoch_id, so a
    blind append would duplicate the replayed triples. Writing each
    epoch into its own partition directory with overwrite makes the
    replay replace the partial epoch instead; readers of
    ``output_path`` still see one table, with ``epoch_id`` as a
    partition column."""
    triples.write.mode("overwrite").parquet(
        f"{output_path}/epoch_id={epoch_id}"
    )


def stream_extract(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    schema,
    config: Optional[UIEConfig] = None,
    await_termination: bool = True,
):
    """Stream web-page parquet files from ``input_path`` into triple
    parquet under ``output_path``; exactly-once per input file via the
    stream checkpoint. Returns the StreamingQuery."""
    pages = (
        spark.readStream.schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_path)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        docs = batch_df.select(F.xxhash64("url").alias("doc_id"), "text")
        engine = UIEEngine(spark, schema, config or UIEConfig())
        triples = UIEEngine.triples(engine.extract(docs))
        _write_epoch(triples, output_path, epoch_id)
        engine.unpersist()

    query = (
        pages.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query


def stream_crawl_rollup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    await_termination: bool = True,
):
    """Watermarked event-time rollup of crawl arrivals: pages per
    (event-time window, lang), append mode — a window is emitted
    exactly once, after the watermark (max seen warc_ts - ``watermark``)
    passes its end, so late pages within the allowance still count and
    older ones are dropped. This is the streaming ops-metrics surface
    (crawl-rate dashboards) the batch lineage table cannot provide."""
    pages = (
        spark.readStream.schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_path)
    )
    agg = (
        pages.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.length("text")).alias("n_chars"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "lang",
            "n_pages",
            "n_chars",
        )
    )
    query = (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query


DEDUP_OUT_SCHEMA = (
    "content_hash string, url string, warc_ts timestamp, text string"
)
DEDUP_STATE_SCHEMA = "seen boolean"


def _first_seen_dedup(pages: DataFrame) -> DataFrame:
    """The stateful first-seen content dedup as a reusable streaming
    transform: one boolean of state per content hash; the earliest
    (warc_ts, url) copy of each distinct content is emitted exactly
    once across the stream lifetime."""
    import pandas as pd

    pages = pages.withColumn("content_hash", F.md5("text"))

    def first_seen(key, pdfs, state):
        if state.exists:
            return  # whole content group already emitted once
        # A group exceeding arrow.maxRecordsPerBatch arrives as SEVERAL
        # pandas chunks (exactly the mirror-crawl duplicate-heavy case
        # this operator targets) — keep a running min across ALL chunks
        # so "earliest (warc_ts, url) wins" holds regardless of chunking.
        best = None
        for pdf in pdfs:
            if not len(pdf):
                continue
            cand = pdf.sort_values(["warc_ts", "url"]).head(1)
            best = (
                cand
                if best is None
                else pd.concat([best, cand]).sort_values(
                    ["warc_ts", "url"]
                ).head(1)
            )
        if best is None:
            return
        state.update((True,))
        yield best[["content_hash", "url", "warc_ts", "text"]]

    return pages.groupBy("content_hash").applyInPandasWithState(
        first_seen,
        outputStructType=DEDUP_OUT_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def stream_dedup_first_seen(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    await_termination: bool = True,
):
    """Custom stateful streaming operator (applyInPandasWithState):
    emit each distinct page CONTENT exactly once across the whole
    stream lifetime — the streaming twin of exact_dup_groups. State is
    one boolean per content hash; a hash seen in ANY earlier
    micro-batch suppresses all later copies (mirror crawls, recrawls).
    Unlike ``dropDuplicates`` on a stream, the state shape, timeout
    policy, and emit rule are explicit and extensible (e.g. keep the
    best-quality copy by swapping the emit rule)."""
    pages = (
        spark.readStream.schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_path)
    )
    deduped = _first_seen_dedup(pages)
    query = (
        deduped.writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query


def stream_extract_dedup(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    schema,
    config: Optional[UIEConfig] = None,
    await_termination: bool = True,
):
    """Composed incremental pipeline: stateful first-seen CONTENT dedup
    -> multi-stage extraction, in one stream. The model runs exactly
    once per distinct page content across the whole stream lifetime —
    the crawl-ingestion shape at web scale, where the dominant cost
    (inference) must never be paid twice for a mirror copy or recrawl.
    doc_id is the xxhash64 of the WINNING (earliest) url; triples land
    as epoch-partitioned parquet (idempotent per-epoch overwrite — see
    _write_epoch)."""
    pages = (
        spark.readStream.schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_path)
    )
    deduped = _first_seen_dedup(pages)

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        docs = batch_df.select(F.xxhash64("url").alias("doc_id"), "text")
        engine = UIEEngine(spark, schema, config or UIEConfig())
        triples = UIEEngine.triples(engine.extract(docs))
        # carry the winning url's event time onto its triples (tiny
        # per-batch dim, broadcast) so downstream consumers — e.g.
        # stream_triples_rollup — can do WATERMARKED event-time work.
        # One row per doc_id: a micro-batch can contain two
        # distinct-content pages with the SAME url (a recrawl whose
        # content changed — first-seen dedup keys on CONTENT, so both
        # survive), and a plain join would then duplicate every triple
        # of that doc_id; keep the earliest event time.
        ts = (
            batch_df.select(F.xxhash64("url").alias("doc_id"), "warc_ts")
            .groupBy("doc_id")
            .agg(F.min("warc_ts").alias("warc_ts"))
        )
        triples = triples.join(F.broadcast(ts), "doc_id")
        _write_epoch(triples, output_path, epoch_id)
        engine.unpersist()

    query = (
        deduped.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query


# schema of the epoch-partitioned triple stream stream_extract_dedup
# writes (UIEEngine.triples columns + the carried event time; epoch_id
# is the partition directory column)
TRIPLES_STREAM_SCHEMA = (
    "doc_id bigint, subj_text string, subj_start bigint, subj_end bigint,"
    " pred string, obj_text string, obj_start bigint, obj_end bigint,"
    " subj_prob double, obj_prob double, warc_ts timestamp, epoch_id int"
)


def stream_triples_rollup(
    spark: SparkSession,
    triples_path: str,
    output_path: str,
    checkpoint_path: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    await_termination: bool = True,
):
    """Stage 2 of the incremental KG pipeline: a watermarked
    event-time rollup OVER THE TRIPLE STREAM that stage 1
    (stream_extract_dedup) emits — triples and approximate distinct
    subjects/documents per (crawl-time window, predicate), append
    mode, each window finalized exactly once after the watermark
    passes its end.

    Composition shape at web scale: crawl ingest -> stateful
    first-seen content dedup -> epoch-idempotent extraction ->
    windowed KG statistics, all incremental; this surface is what a
    crawl-vs-extraction-rate dashboard reads, and the approximate
    distinct counts (HLL sketches, mergeable across partitions) are
    the only state it keeps per window. Exact DISTINCT is
    deliberately not used: it is unsupported in streaming append mode
    and unnecessary for ops metrics."""
    tri = (
        spark.readStream.schema(TRIPLES_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(triples_path)
    )
    agg = (
        tri.withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), "pred")
        .agg(
            F.count(F.lit(1)).alias("n_triples"),
            F.approx_count_distinct("doc_id").alias("n_docs_approx"),
            F.approx_count_distinct("subj_text").alias("n_subjects_approx"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "pred",
            "n_triples",
            "n_docs_approx",
            "n_subjects_approx",
        )
    )
    query = (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query


# fused edge-delta schema stream_edges_delta writes per epoch (the
# kg.graph.fuse_triples output columns; epoch_id is the partition dir)
EDGE_DELTA_SCHEMA = (
    "subj_id string, pred string, obj_id string, n_mentions bigint,"
    " n_docs bigint, max_prob double, conf_noisy_or double, epoch_id int"
)


def stream_edges_delta(
    spark: SparkSession,
    triples_path: str,
    deltas_path: str,
    checkpoint_path: str,
    await_termination: bool = True,
):
    """Stage 3 of the incremental KG pipeline: fold the triple stream
    that stage 1 (stream_extract_dedup) emits into per-epoch FUSED
    edge deltas — each micro-batch is canonicalized (lower/trim
    surfaces) and collapsed to one noisy-or-fused row per
    fact (kg.graph.fuse_triples), then written with the idempotent
    per-epoch overwrite, so a replayed epoch replaces its own delta
    instead of double-counting evidence.

    The standing edge table is NEVER read-modify-written inside the
    stream (a foreachBatch that reads its own output races with
    replays); deltas accumulate append-only and
    ``compact_edge_deltas`` folds them on demand. Because noisy-or
    fusion is associative and commutative (see kg.maintain.merge_all),
    compact(deltas) == fuse-all-at-once over every mention ever
    streamed — incrementality costs no correctness."""
    tri = (
        spark.readStream.schema(TRIPLES_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(triples_path)
    )

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        from .kg.graph import fuse_triples

        canon = batch_df.select(
            F.lower(F.trim("subj_text")).alias("subj_id"),
            "pred",
            F.lower(F.trim("obj_text")).alias("obj_id"),
            "obj_prob",
            "doc_id",
        )
        _write_epoch(fuse_triples(canon), deltas_path, epoch_id)

    query = (
        tri.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query


def compact_edge_deltas(spark: SparkSession, deltas_path: str) -> DataFrame:
    """Fold every per-epoch fused delta under ``deltas_path`` into the
    standing KG edge table — ONE combinable groupBy over the delta
    rows (kg.maintain.merge_all), equal to having fused every mention
    at once. Run it on whatever cadence the serving layer wants a
    fresh graph; at web scale this is the compaction job, reading
    fused rows (facts), never the raw mentions."""
    from .kg.maintain import merge_all

    return merge_all(spark.read.parquet(deltas_path).drop("epoch_id"))


def stream_crawl_sessions(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    await_termination: bool = True,
):
    """Native ``session_window`` streaming rollup: contiguous crawl
    activity per DOMAIN (pages arriving with less than ``gap``
    between event times) collapses to one session row
    (session_start, session_end, domain, n_pages, n_chars). The
    incremental twin of operators.temporal.sessionize — but where the
    batch operator replays lag+cumsum deterministically, the
    streaming form keeps per-(domain, open-session) state that MERGES
    as new events extend or bridge sessions, and append mode emits a
    session exactly once after the watermark passes its close. The
    crawl-scheduler view: per-domain burst length and volume, live.
    """
    pages = (
        spark.readStream.schema(WEB_PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(input_path)
    )
    domain = F.regexp_extract("url", r"^[a-z]+://([^/]+)/", 1)
    agg = (
        pages.withColumn("domain", domain)
        .withWatermark("warc_ts", watermark)
        .groupBy(F.session_window("warc_ts", gap).alias("w"), "domain")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.length("text")).alias("n_chars"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "domain",
            "n_pages",
            "n_chars",
        )
    )
    query = (
        agg.writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        query.awaitTermination()
    return query
