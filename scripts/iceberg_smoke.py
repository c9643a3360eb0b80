#!/usr/bin/env python
"""Iceberg round-trip smoke for the web_pages source/sink (run where
the Iceberg Spark runtime jar IS available; mirrors
scripts/onnx_smoke.py).

Exercises exactly what SURVEY §2.1 S1/S6/S7 claim about the Iceberg
path and the north rule's "Iceberg-style table":

  * CREATE + append the web_pages fixture via ``writeTo(...)`` with
    hidden ``days(warc_ts)`` partitioning;
  * read it back through ``read_web_pages(spark, "iceberg:...")`` —
    the SAME format-gated entry the engine uses — and check the
    byte-identical text-extraction invariant over the round-trip;
  * partition pruning: a one-day filter plans against a pruned scan;
  * snapshot-based resume: a second append creates a new snapshot;
    an incremental read of (snap0, snap1] sees ONLY the new rows —
    the checkpoint/resume contract kg/lineage.py models with
    per-partition parquet in-sandbox.

Usage (jar location also honored via $SPARK_GRAFT_ICEBERG_JAR):
    spark-submit --jars iceberg-spark-runtime-4.0_2.13-<ver>.jar \
        scripts/iceberg_smoke.py
    # or: python scripts/iceberg_smoke.py  (jar on the driver class
    # path / --packages resolution left to the caller's environment)
"""

from __future__ import annotations

import os
import sys
import tempfile


def main() -> int:
    from pyspark.sql import SparkSession

    warehouse = tempfile.mkdtemp(prefix="iceberg-wh-")
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", "local[4]"))
        .appName("iceberg-smoke")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config(
            "spark.sql.extensions",
            "org.apache.iceberg.spark.extensions"
            ".IcebergSparkSessionExtensions",
        )
        .config(
            "spark.sql.catalog.local",
            "org.apache.iceberg.spark.SparkCatalog",
        )
        .config("spark.sql.catalog.local.type", "hadoop")
        .config("spark.sql.catalog.local.warehouse", warehouse)
    )
    jar = os.environ.get("SPARK_GRAFT_ICEBERG_JAR")
    if jar:
        builder = builder.config("spark.jars", jar)
    spark = builder.getOrCreate()

    try:
        spark._jvm.Class.forName(  # noqa: SLF001 — presence probe only
            "org.apache.iceberg.spark.SparkCatalog"
        )
    except Exception:
        print(
            "SKIP: Iceberg runtime not on the Spark classpath — pass "
            "--jars/--packages or set SPARK_GRAFT_ICEBERG_JAR"
        )
        spark.stop()
        return 0

    from pyspark.sql import functions as F

    from uie_pytorch_spark.sources.web_pages import (
        extract_text,
        fixture_web_pages,
        read_web_pages,
        write_triples,
    )

    table = "local.db.web_pages"
    wave1 = fixture_web_pages(spark, n_docs=40, seed=7)
    (
        wave1.writeTo(table)
        .partitionedBy(F.days("warc_ts"))
        .createOrReplace()
    )

    got = read_web_pages(spark, f"iceberg:{table}")
    assert got.count() == 40, got.count()
    # byte-identical text extraction survives the Iceberg round-trip:
    # re-derive text from the html column with the SAME native
    # expression stage the engine uses and compare
    mismatch = (
        extract_text(got)
        .filter(F.col("extracted") != F.col("text"))
        .count()
    )
    assert mismatch == 0, f"{mismatch} rows broke the text invariant"
    print("round-trip + text invariant: OK (40 rows)")

    # hidden-partition pruning: a one-day filter reaches the Iceberg
    # scan as a partition predicate (verify via the scan's reported
    # filters in EXPLAIN, plus the row count)
    one_day = got.filter(F.to_date("warc_ts") == "2024-01-01")
    n_day1 = one_day.count()
    assert n_day1 > 0
    one_day.explain("formatted")  # filters=[warc_ts ...] on BatchScan
    print(f"days(warc_ts) partition filter: OK ({n_day1} rows)")

    snap0 = spark.sql(
        f"SELECT snapshot_id FROM {table}.snapshots "
        "ORDER BY committed_at DESC LIMIT 1"
    ).collect()[0][0]

    # append a second wave through the format-gated SINK, then resume
    wave2 = fixture_web_pages(spark, n_docs=55, seed=7).filter(
        ~F.col("url").isin([r["url"] for r in wave1.select("url").collect()])
    )
    n_new = wave2.count()
    write_triples(wave2, f"iceberg:{table}")

    incremental = (
        spark.read.format("iceberg")
        .option("start-snapshot-id", str(snap0))
        .load(table)
    )
    assert incremental.count() == n_new, (
        f"incremental read saw {incremental.count()}, expected {n_new}"
    )
    assert got.count() + n_new == spark.table(table).count()
    print(f"snapshot-based resume: OK (incremental read = {n_new} new rows)")

    spark.stop()
    print("ICEBERG SMOKE PASSED")
    return 0


if __name__ == "__main__":
    sys.exit(main())
