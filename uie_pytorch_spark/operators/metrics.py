"""Span-set P/R/F1 as a distributed job (SURVEY A4/E3): the
SpanEvaluator (/root/reference/utils.py:154-237) re-expressed as
joins + one aggregation — |pred ∩ gold| is an inner join on the span
identity key, and the three counts become P/R/F1 in a final select.

Used for parity scoring (engine triples vs oracle triples).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

SPAN_KEY = ["doc_id", "prompt", "start", "end"]


def span_prf(pred: DataFrame, gold: DataFrame, key=None) -> DataFrame:
    """One-row DataFrame (num_correct, num_infer, num_label,
    precision, recall, f1). Inputs are span tables sharing `key`
    columns (default SPAN_KEY); duplicates are dropped (set
    semantics, utils.py:195-208)."""
    key = key or SPAN_KEY
    p = pred.select(*key).distinct()
    g = gold.select(*key).distinct()
    correct = p.join(g, key).count()
    n_p = p.count()
    n_g = g.count()
    precision = correct / n_p if n_p else 0.0
    recall = correct / n_g if n_g else 0.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if correct
        else 0.0
    )
    spark = pred.sparkSession
    return spark.createDataFrame(
        [(correct, n_p, n_g, precision, recall, f1)],
        "num_correct: long, num_infer: long, num_label: long, "
        "precision: double, recall: double, f1: double",
    )

