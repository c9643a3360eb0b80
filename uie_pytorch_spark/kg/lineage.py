"""Per-partition lineage + checkpoint resume (north-rule requirement;
FIXTURES.md §7 schema).

The unit of work is a PARTITION KEY: a salted domain bucket of the
input corpus. A run writes, per partition: the output triples under
``out/triples/part_key=<k>/`` and a lineage row recording status and
metrics; a partition with no input rows commits its lineage row only
(no extraction, no triples directory). Resume = read the lineage
table, skip partitions already ``done``, process the rest. Because the
whole engine is deterministic (content-hash ids, batch-invariant model,
in-order vote sums), a resumed run produces byte-identical triples to
a clean one — asserted by tests/test_resume.py.

At 10^12-doc scale this maps 1:1 onto Iceberg: partition-level commits
become snapshot appends and the lineage table is an Iceberg table
keyed by (run_id, part_key); the logic below is storage-agnostic
(plain parquet in-sandbox).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Callable, List

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# wall_ms: the bucket's extraction, triples write and read-back count;
# NOT the write of the lineage row that carries it (a row cannot time
# its own write), so an empty bucket reads ~0 ms.
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("part_key", T.IntegerType()),
        T.StructField("stage", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("rows_in", T.LongType()),
        T.StructField("triples_out", T.LongType()),
        T.StructField("wall_ms", T.LongType()),
        T.StructField("updated_at", T.TimestampType()),
    ]
)


def salted_partition_key(url_col, buckets: int) -> F.Column:
    """Partition key = hash-bucket of the url's DOMAIN plus a salt
    from the full url, so one hot domain spreads over several buckets
    instead of one straggler (explicit skew handling, north rule)."""
    domain = F.parse_url(url_col, F.lit("HOST"))
    salt = F.pmod(F.xxhash64(url_col), F.lit(4))
    return F.pmod(F.xxhash64(domain, salt), F.lit(buckets)).cast("int")


@dataclass
class CheckpointedRun:
    spark: SparkSession
    out_dir: str
    run_id: str
    buckets: int = 8

    @property
    def lineage_path(self) -> str:
        return os.path.join(self.out_dir, "lineage")

    @property
    def triples_path(self) -> str:
        return os.path.join(self.out_dir, "triples")

    def completed_partitions(self) -> List[int]:
        # schema given, not inferred: a crashed first commit's leftover
        # _temporary/ then reads as no rows
        try:
            lin = self.spark.read.schema(LINEAGE_SCHEMA).parquet(self.lineage_path)
        except AnalysisException as e:
            # no lineage yet; an unreadable one must not read as "nothing done"
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            return []
        rows = (
            lin.filter(
                (F.col("run_id") == self.run_id) & (F.col("status") == "done")
            )
            .select("part_key")
            .distinct()
            .collect()
        )
        return sorted(r["part_key"] for r in rows)

    def _append_lineage(self, part_key: int, stage: str, status: str,
                        rows_in: int, triples_out: int, wall_ms: int) -> None:
        # one row of literals in one task, built on the JVM:
        # createDataFrame from a Python list would run a Python-RDD job
        # and start a second Python worker pool beside the model UDF's
        values = (self.run_id, part_key, stage, status, rows_in,
                  triples_out, wall_ms, F.current_timestamp())
        self.spark.range(1, numPartitions=1).select(
            *(
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(values, LINEAGE_SCHEMA.fields)
            )
        ).write.mode("append").parquet(self.lineage_path)

    def run(
        self,
        pages: DataFrame,
        extract_fn: Callable[[DataFrame], DataFrame],
        fail_after_partitions: int | None = None,
    ) -> DataFrame:
        """Process every not-yet-done partition: docs in the bucket ->
        extract_fn -> append triples under part_key=<k> + lineage row.
        A partition with no input rows commits its lineage row only:
        no extract_fn call, no triples write, no read-back count.
        ``fail_after_partitions`` injects a crash for the resume test.
        A lineage row's ``wall_ms`` is taken before that row is written
        (see LINEAGE_SCHEMA).
        Returns the full triples table (when every partition was empty,
        extract_fn's output on the empty input, for its schema).

        Scan shape: the input is keyed and persisted ONCE, and every
        bucket's rows_in comes from ONE groupBy job over that cache —
        the per-bucket loop then reads the cache, never the source
        (round 1 re-scanned the source parquet + ran a count() per
        bucket: 2B passes for B buckets). Per-bucket writes + lineage
        rows are kept — that IS the commit granularity the resume
        contract needs (on Iceberg: one snapshot append per bucket);
        a single partitionBy(part_key) write would be one atomic
        all-or-nothing commit and lose mid-run resumability."""
        keyed = pages.withColumn(
            "part_key", salted_partition_key(F.col("url"), self.buckets)
        ).persist()
        try:
            done = set(self.completed_partitions())
            todo = [k for k in range(self.buckets) if k not in done]
            # one job: per-bucket input counts (also materializes the
            # cache the per-bucket filters below will read)
            rows_in_by_key = {
                r["part_key"]: r["n"]
                for r in keyed.groupBy("part_key")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            processed = 0
            for k in todo:
                if (
                    fail_after_partitions is not None
                    and processed >= fail_after_partitions
                ):
                    raise RuntimeError(f"injected failure before partition {k}")
                t0 = time.monotonic()
                rows_in = rows_in_by_key.get(k, 0)
                n_out = 0
                if rows_in:
                    part = keyed.filter(F.col("part_key") == k)
                    triples = extract_fn(part.drop("part_key"))
                    out_path = os.path.join(self.triples_path, f"part_key={k}")
                    triples.write.mode("overwrite").parquet(out_path)
                    # read-back count = verify the COMMITTED state, not the
                    # in-memory plan (cheap: local parquet footer scan)
                    n_out = self.spark.read.parquet(out_path).count()
                self._append_lineage(
                    k, "extract", "done", rows_in, n_out,
                    int((time.monotonic() - t0) * 1000),
                )
                processed += 1
        finally:
            keyed.unpersist()
        try:
            return self.spark.read.parquet(self.triples_path)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
        # no partition ever had input rows
        return extract_fn(pages.limit(0)).withColumn(
            "part_key", F.lit(None).cast("int")
        )
