"""spark-submit entrypoint (north rule: launched via
``spark-submit --py-files uie_pytorch_spark.zip cli.py ...``).

Example:
    zip -r /tmp/uie_pytorch_spark.zip uie_pytorch_spark
    spark-submit --py-files /tmp/uie_pytorch_spark.zip \\
        --driver-memory 8g \\
        uie_pytorch_spark/cli.py \\
        --input /data/web_pages --output /data/kg_out \\
        --schema '{"竞赛名称": ["主办方", "承办方"]}' \\
        --buckets 64 --run-id backfill-2024-01

Reads the web-pages table (url, warc_ts, html, text, lang), verifies
the byte-identical-extraction invariant, runs checkpointed extraction
partition by partition (resumable), canonicalizes entities, and
materializes triples/entities/edges + lineage.

Size the JVM: in local mode one JVM is driver AND executor, and
spark-submit's 1g default OOMs the canonicalization aggregations
(SparkOutOfMemoryError UNABLE_TO_ACQUIRE_MEMORY) on corpora past a
few thousand pages — pass ``--driver-memory`` (cluster mode:
``--executor-memory``) sized to the box.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import sys


def main(argv=None):
    ap = argparse.ArgumentParser(description="UIE-Spark KG construction")
    ap.add_argument("--input", required=True, help="web_pages parquet path or iceberg:<db.table>")
    ap.add_argument("--output", required=True, help="output directory")
    ap.add_argument("--schema", required=True, help="extraction schema JSON")
    ap.add_argument("--run-id", default="run-0")
    ap.add_argument("--buckets", type=int, default=64)
    ap.add_argument("--lang", default="zh")
    ap.add_argument("--position-prob", type=float, default=0.5)
    ap.add_argument("--max-seq-len", type=int, default=512)
    # deployment seams: a real checkpoint/vocab ships with --files (or
    # sc.addFile below when the path is driver-local) and slots in here
    # with no code changes
    ap.add_argument(
        "--model-path", default=None,
        help=".npz weight artifact (core.model.save_weights); shipped "
             "to executors via SparkFiles",
    )
    ap.add_argument(
        "--backend", default="numpy", choices=("numpy", "torch", "onnx"),
        help="inference backend inside the UDF (torch/onnx need the "
             "libs on executors)",
    )
    ap.add_argument(
        "--tokenizer", default="char",
        help="'char' | 'wordpiece-en' | 'wordpiece-en@<vocab.txt>' "
             "(vocab file shipped like the model artifact)",
    )
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("uie-kg-construct").getOrCreate()

    from uie_pytorch_spark.engine import UIEConfig, UIEEngine
    from uie_pytorch_spark.kg.canonicalize import canonicalize_mentions
    from uie_pytorch_spark.kg.lineage import CheckpointedRun
    from uie_pytorch_spark.sources import web_pages

    pages = web_pages.read_web_pages(spark, args.input)

    bad = (
        web_pages.extract_text(pages)
        .filter(F.col("extracted") != F.col("text"))
        .limit(1)
        .count()
    )
    if bad:
        print("FATAL: text-extraction invariant violated", file=sys.stderr)
        sys.exit(2)

    schema = json.loads(args.schema)
    # ship driver-local artifacts so executor workers can resolve them
    # from SparkFiles (no-op when the path is already on a shared FS)
    import os

    for p in (
        args.model_path,
        args.tokenizer.split("@", 1)[1] if "@" in args.tokenizer else None,
    ):
        if p and os.path.exists(p):
            spark.sparkContext.addFile(p)
    config = UIEConfig(
        lang=args.lang,
        position_prob=args.position_prob,
        max_seq_len=args.max_seq_len,
        model_path=args.model_path,
        backend=args.backend,
        tokenizer=args.tokenizer,
    )

    eng = UIEEngine(spark, schema, config)

    def extract_fn(part_pages):
        # the previous bucket is committed by now: release its caches
        eng.unpersist()
        docs = web_pages.docs_view(part_pages).select("doc_id", "text")
        return UIEEngine.triples(eng.extract(docs))

    run = CheckpointedRun(
        spark, args.output, run_id=args.run_id, buckets=args.buckets
    )
    try:
        triples = run.run(pages, extract_fn)
    finally:
        eng.unpersist()

    mentions = (
        triples.select(F.col("subj_text").alias("surface"))
        .union(triples.select(F.col("obj_text").alias("surface")))
        .distinct()
        .withColumn("mention_id", F.xxhash64("surface"))
    )
    # the caches canonicalization makes are released once it is written
    with contextlib.ExitStack() as held:
        canon = canonicalize_mentions(mentions, held=held)
        canon.write.mode("overwrite").parquet(f"{args.output}/entities")

    # KG edge table: triples collapsed onto canonical entity ids
    from uie_pytorch_spark.kg.graph import entity_edges, surface_canonical_map

    edges = entity_edges(
        triples, surface_canonical_map(spark.read.parquet(f"{args.output}/entities"))
    )
    edges.write.mode("overwrite").parquet(f"{args.output}/edges")

    n = triples.count()
    print(json.dumps({"run_id": args.run_id, "triples": n}))


if __name__ == "__main__":
    main()
