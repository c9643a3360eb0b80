"""Checkpoint/resume + skew partitioning (north-rule pipeline props):
kill a run between partitions, resume, assert identical output to a
clean run and that done partitions are skipped."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from uie_pytorch_spark import cli
from uie_pytorch_spark.engine import UIEConfig, UIEEngine
from uie_pytorch_spark.kg.lineage import CheckpointedRun, salted_partition_key
from uie_pytorch_spark.sources.web_pages import fixture_web_pages


def _extract_fn(spark):
    def fn(pages):
        docs = pages.select(F.xxhash64("url").alias("doc_id"), "text")
        eng = UIEEngine(spark, {"竞赛名称": ["主办方"]}, UIEConfig())
        spans = eng.extract(docs)
        return UIEEngine.triples(spans)

    return fn


def _triples_set(df):
    return {
        (r["doc_id"], r["subj_text"], r["subj_start"], r["subj_end"],
         r["pred"], r["obj_text"], r["obj_start"], r["obj_end"])
        for r in df.collect()
    }


def test_salted_partition_key_spreads_hot_domain(spark):
    pages = fixture_web_pages(spark, n_docs=200, seed=42)
    keyed = pages.withColumn("pk", salted_partition_key(F.col("url"), 8))
    hot = keyed.filter(F.col("url").contains("hot.example.com"))
    n_buckets = hot.select("pk").distinct().count()
    assert n_buckets >= 3, "hot domain must spread over several buckets"
    # and every bucket is bounded (no straggler holds >60% of rows)
    total = keyed.count()
    mx = keyed.groupBy("pk").count().agg(F.max("count")).collect()[0][0]
    assert mx < 0.6 * total


def test_resume_produces_identical_output(spark, tmp_path):
    pages = fixture_web_pages(spark, n_docs=24, seed=9).cache()
    fn = _extract_fn(spark)

    clean = CheckpointedRun(spark, str(tmp_path / "clean"), run_id="r1", buckets=4)
    clean_triples = _triples_set(clean.run(pages, fn))

    resumed = CheckpointedRun(spark, str(tmp_path / "res"), run_id="r1", buckets=4)
    with pytest.raises(RuntimeError, match="injected failure"):
        resumed.run(pages, fn, fail_after_partitions=2)
    done_before = resumed.completed_partitions()
    assert len(done_before) == 2

    out = resumed.run(pages, fn)  # resume: only remaining partitions
    assert _triples_set(out) == clean_triples

    # lineage recorded exactly one 'done' row per partition
    lin = spark.read.parquet(resumed.lineage_path)
    per_part = (
        lin.filter(F.col("status") == "done")
        .groupBy("part_key")
        .count()
        .collect()
    )
    assert sorted(r["part_key"] for r in per_part) == [0, 1, 2, 3]
    assert all(r["count"] == 1 for r in per_part)


def test_cli_backfill_holds_one_buckets_caches(spark, tmp_path, monkeypatch):
    """cli.main owns its engine's persisted stages: each bucket's
    caches are released once the bucket is committed, so a backfill
    holds one bucket's caches at a time, not every bucket's."""
    # RDD ids, not a count: the JVM holds persisted RDDs weakly, so
    # ones leaked by earlier tests can vanish mid-test
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    starts, commits = [], []
    extract, append = UIEEngine.extract, CheckpointedRun._append_lineage

    def recording_extract(self, docs):
        starts.append(persisted())
        return extract(self, docs)

    def recording_append(self, *args, **kwargs):
        commits.append(persisted())
        return append(self, *args, **kwargs)

    monkeypatch.setattr(UIEEngine, "extract", recording_extract)
    monkeypatch.setattr(CheckpointedRun, "_append_lineage", recording_append)
    src = str(tmp_path / "pages")
    fixture_web_pages(spark, n_docs=24, seed=9).write.parquet(src)
    cli.main([
        "--input", src, "--output", str(tmp_path / "out"),
        "--schema", json.dumps({"竞赛名称": ["主办方"]}, ensure_ascii=False),
        "--buckets", "4", "--run-id", "r1",
    ])

    assert len(starts) == len(commits) == 4
    buckets = [commit - start for start, commit in zip(starts, commits)]
    assert any(buckets)
    for commit, bucket in zip(commits, buckets):
        # nothing an earlier bucket cached is still held at this commit
        assert commit - starts[0] <= bucket
    assert not persisted() & set().union(*buckets)
