"""Checkpoint/resume + skew partitioning (north-rule pipeline props):
kill a run between partitions, resume, assert identical output to a
clean run and that done partitions are skipped."""

from __future__ import annotations

import json
import os

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession
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


@pytest.fixture(scope="module")
def clean_run(spark, tmp_path_factory):
    """An uninterrupted 4-bucket run over the 24-page corpus (every
    bucket non-empty): its triples set and its (name, type) schema."""
    pages = fixture_web_pages(spark, n_docs=24, seed=9)
    run = CheckpointedRun(
        spark, str(tmp_path_factory.mktemp("clean")), run_id="r1", buckets=4
    )
    triples = run.run(pages, _extract_fn(spark))
    return _triples_set(triples), [(f.name, f.dataType) for f in triples.schema]


def test_resume_produces_identical_output(spark, tmp_path, clean_run):
    pages = fixture_web_pages(spark, n_docs=24, seed=9).cache()
    fn = _extract_fn(spark)
    clean_triples, _ = clean_run

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


def test_empty_buckets_commit_lineage_only(spark, tmp_path, clean_run):
    """At 8 buckets this corpus leaves buckets 1 and 2 empty: each
    commits its lineage row and nothing else (no extraction, no
    triples directory), and the triples equal the 4-bucket run's."""
    pages = fixture_web_pages(spark, n_docs=24, seed=9).cache()
    fn, calls = _extract_fn(spark), []

    def counting_fn(part):
        calls.append(part)
        return fn(part)

    run = CheckpointedRun(spark, str(tmp_path), run_id="r1", buckets=8)
    triples = _triples_set(run.run(pages, counting_fn))

    assert len(calls) == 6
    lin = spark.read.parquet(run.lineage_path).filter(F.col("status") == "done")
    rows = {r["part_key"]: r for r in lin.collect()}
    assert lin.count() == 8 and sorted(rows) == list(range(8))
    for k in (1, 2):
        assert rows[k]["rows_in"] == rows[k]["triples_out"] == 0
        assert not os.path.exists(os.path.join(run.triples_path, f"part_key={k}"))
    assert triples == clean_run[0]


def test_all_buckets_empty_returns_empty_triples(spark, tmp_path, clean_run):
    """An input with no rows writes a done row per bucket and no
    triples, and still returns a triples table with the schema of a
    non-empty run."""
    pages = fixture_web_pages(spark, n_docs=24, seed=9).limit(0)
    run = CheckpointedRun(spark, str(tmp_path), run_id="r1", buckets=4)
    triples = run.run(pages, _extract_fn(spark))

    assert triples.count() == 0
    assert [(f.name, f.dataType) for f in triples.schema] == clean_run[1]
    assert run.completed_partitions() == [0, 1, 2, 3]
    assert spark.read.parquet(run.lineage_path).count() == 4
    assert not os.path.exists(run.triples_path)


def test_cli_runs_no_python_rdd_job(spark, tmp_path, monkeypatch, capsys):
    """No step of cli.main builds a DataFrame from Python data, so the
    session never starts a second Python worker pool beside the
    inference UDF's (8 buckets: empty ones commit on this path too)."""
    src = str(tmp_path / "pages")
    fixture_web_pages(spark, n_docs=24, seed=9).write.parquet(src)

    def refuse(*args, **kwargs):
        raise AssertionError("a Python-RDD job on the CLI path")

    monkeypatch.setattr(SparkSession, "createDataFrame", refuse)
    monkeypatch.setattr(SparkContext, "parallelize", refuse)
    cli.main([
        "--input", src, "--output", str(tmp_path / "out"),
        "--schema", json.dumps({"竞赛名称": ["主办方"]}, ensure_ascii=False),
        "--buckets", "8", "--run-id", "r1",
    ])
    assert json.loads(capsys.readouterr().out.splitlines()[-1])["triples"] > 0


def test_cli_backfill_holds_one_buckets_caches(spark, tmp_path, monkeypatch):
    """cli.main owns its engine's persisted stages: each bucket's
    caches are released once the bucket is committed, so a backfill
    holds one bucket's caches at a time, not every bucket's; and no
    RDD the run persisted outlives it."""
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
    before = persisted()
    cli.main([
        "--input", src, "--output", str(tmp_path / "out"),
        "--schema", json.dumps({"竞赛名称": ["主办方"]}, ensure_ascii=False),
        "--buckets", "4", "--run-id", "r1",
    ])
    # and the run leaves nothing persisted that it created:
    # canonicalization's caches and CC checkpoints are released too
    assert persisted() <= before

    assert len(starts) == len(commits) == 4
    buckets = [commit - start for start, commit in zip(starts, commits)]
    assert any(buckets)
    for commit, bucket in zip(commits, buckets):
        # nothing an earlier bucket cached is still held at this commit
        assert commit - starts[0] <= bucket
    assert not persisted() & set().union(*buckets)


def test_corrupt_lineage_fails_the_run(spark, tmp_path):
    """A lineage table that exists but cannot be read must not read as
    "nothing done": resuming would re-extract every bucket and append
    to a table nobody can read."""
    run = CheckpointedRun(spark, str(tmp_path), run_id="r1", buckets=2)
    os.makedirs(run.lineage_path)
    with open(os.path.join(run.lineage_path, "part-0.parquet"), "w") as f:
        f.write("not parquet")
    pages = fixture_web_pages(spark, n_docs=4, seed=9)
    with pytest.raises(Exception, match="FAILED_READ_FILE"):
        run.run(pages, lambda part: part.select("url"))
    assert not os.path.exists(run.triples_path)


def test_resume_after_crashed_first_lineage_commit(spark, tmp_path, clean_run):
    """A crash inside the first lineage append leaves ``lineage/``
    holding only the committer's hidden ``_temporary/``: that reads as
    nothing done, and the resumed run completes every bucket."""
    run = CheckpointedRun(spark, str(tmp_path), run_id="r1", buckets=4)
    attempt = os.path.join(
        run.lineage_path, "_temporary", "0", "_temporary", "attempt_0"
    )
    os.makedirs(attempt)
    with open(os.path.join(attempt, "part-00000.parquet"), "w") as f:
        f.write("half a file")
    assert run.completed_partitions() == []

    pages = fixture_web_pages(spark, n_docs=24, seed=9)
    assert _triples_set(run.run(pages, _extract_fn(spark))) == clean_run[0]
    assert run.completed_partitions() == [0, 1, 2, 3]


def test_cli_reads_iceberg_input_through_web_pages_seam(
    spark, tmp_path, monkeypatch
):
    """``--input iceberg:<db.table>`` loads through the Iceberg
    DataSource, and the byte-identical-text check runs on what it
    loads. No Iceberg runtime is on the classpath here, so the reader
    is stubbed to return pages whose text is not their html body."""
    from pyspark.sql import DataFrameReader

    bad = fixture_web_pages(spark, n_docs=4, seed=9).withColumn(
        "text", F.concat("text", F.lit("!"))
    )
    calls = []

    def fmt(self, source):
        calls.append(source)
        return self

    def load(self, path=None, *args, **kwargs):
        calls.append(path)
        return bad

    monkeypatch.setattr(DataFrameReader, "format", fmt)
    monkeypatch.setattr(DataFrameReader, "load", load)
    with pytest.raises(SystemExit) as exit_:
        cli.main([
            "--input", "iceberg:db.t", "--output", str(tmp_path / "out"),
            "--schema", json.dumps({"竞赛名称": ["主办方"]}, ensure_ascii=False),
        ])
    assert exit_.value.code == 2
    assert calls == ["iceberg", "db.t"]
