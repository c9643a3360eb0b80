"""Shared operator utilities.

``spread``: scale-adaptive parallelism floor for compute-bound
per-row work (guide §2.5 "input skew: one huge unsplittable file").

The driver fixtures are single-row-group parquet files, and a parquet
file can only split at row-group boundaries — so EVERY per-row-heavy
operator (md5 shingling, regex tokenization, array folds) otherwise
runs its entire compute inside ONE scan task while 31 cores idle.
The same failure mode exists at production scale whenever an input
arrives as few/unsplittable files (gzip, consolidated exports) or an
AQE-coalesced tiny exchange feeds a compute-bound projection (AQE
sizes partitions by BYTES, and these inputs are small in bytes but
heavy in CPU) — the exact problem the engine already solves for the
model UDF with an explicit repartition (engine.py).

``spread`` is a no-op whenever the input already has at least
``defaultParallelism`` partitions — at real scale (thousands of
splits) it never shuffles; on a narrow input it pays one tiny
round-robin exchange of the projected columns to unlock N-way
compute. Callers must project to the columns they need FIRST so the
exchange carries no dead weight (guide §2.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` up to defaultParallelism
    partitions IF it currently has fewer — a
    parallelism floor for compute-bound projections, never a
    coalesce. Deterministic results: every caller's downstream
    computation is partition-order independent (per-row projections,
    commutative aggs), and Spark's sort-before-repartition keeps the
    row->partition assignment stable under task retries."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    try:
        current = df.rdd.getNumPartitions()
    except Exception:  # pragma: no cover - planning failure: skip
        return df.repartition(target)
    if current >= target:
        return df
    return df.repartition(target)
