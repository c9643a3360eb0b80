"""Tracing for the per-layer run, kept entirely in the benchmark's own
files: spans around calls into the package's public functions, each
under its own Spark job group; Spark job/stage/task counts from the
status tracker; shuffle bytes and task times from the event log; and
an in-process replay of the model layers."""

from __future__ import annotations

import glob
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

_GROUP = "spark.jobGroup.id"
# the span names whose Spark jobs run the extraction engine
ENGINE_GROUPS = ("engine.extract", "engine.materialize", "kg.lineage.crash_leg",
                 "kg.lineage.run")


def storage_used_mb(sc) -> float:
    """JVM storage memory (cached and persisted blocks) in use over all
    executors, from the status tracker, in MB."""
    infos = sc._jsc.sc().statusTracker().getExecutorInfos()
    return sum(
        i.usedOnHeapStorageMemory() + i.usedOffHeapStorageMemory() for i in infos
    ) / 2**20


class Tracer:
    """Records one span per call: (name, parent, start, end). A span's
    name doubles as the Spark job group of the jobs run inside it, so
    the jobs of a nested call belong to the innermost span. At the end
    of every span it also reads the JVM storage memory in use;
    ``storage_peak_mb`` is the largest reading."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list = []
        self._stack: list = []
        self.storage_peak_mb = 0.0

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setLocalProperty(_GROUP, name)
        t0 = time.monotonic()
        try:
            yield
        finally:
            t1 = time.monotonic()
            self._stack.pop()
            self.sc.setLocalProperty(_GROUP, parent)
            self.spans.append((name, parent, t0, t1))
            self.storage_peak_mb = max(self.storage_peak_mb, storage_used_mb(self.sc))

    def seconds(self, name: str) -> float:
        return sum(t1 - t0 for n, _, t0, t1 in self.spans if n == name)

    def spark_counts(self, *groups: str) -> dict:
        """Jobs, stages that ran, and completed tasks of the job groups."""
        st = self.sc.statusTracker()
        jobs = [j for g in groups for j in st.getJobIdsForGroup(g)]
        stages = set()
        for j in jobs:
            info = st.getJobInfo(j)
            stages.update(info.stageIds if info else ())
        ran = [s for s in map(st.getStageInfo, stages) if s and s.numCompletedTasks]
        return {
            "spark_jobs": len(jobs),
            "spark_stages": len(ran),
            "tasks": sum(s.numCompletedTasks for s in ran),
        }


def event_log_stats(log_dir: str, groups=ENGINE_GROUPS) -> dict:
    """Shuffle bytes written by the jobs of ``groups``, and the skew of
    the model-inference stages (max / median task time), read from the
    Spark event logs in ``log_dir``. A model-inference stage is one
    that computes a cached ``MapInArrow`` result."""
    stage_group, infer_stages = {}, set()
    task_ms = defaultdict(list)
    shuffle_bytes = defaultdict(int)
    for path in sorted(glob.glob(f"{log_dir}/*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(_GROUP)
                    for s in ev["Stage IDs"]:
                        stage_group.setdefault((path, s), group)
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if any("MapInArrow" in (r.get("Name") or "")
                           for r in info["RDD Info"]):
                        infer_stages.add((path, info["Stage ID"]))
                elif kind == "SparkListenerTaskEnd":
                    key = (path, ev["Stage ID"])
                    ti = ev["Task Info"]
                    task_ms[key].append(ti["Finish Time"] - ti["Launch Time"])
                    tm = ev.get("Task Metrics") or {}
                    shuffle_bytes[key] += (
                        tm.get("Shuffle Write Metrics", {})
                        .get("Shuffle Bytes Written", 0)
                    )
    mine = {k for k, g in stage_group.items() if g in groups}
    infer = [t for k in mine & infer_stages for t in task_ms[k]]
    return {
        "engine.shuffle_write_bytes": sum(shuffle_bytes[k] for k in mine),
        "engine.infer_task_skew": (
            max(infer) / max(statistics.median(infer), 1) if infer else 0.0
        ),
    }


def release_caches(spark) -> int:
    """Run isolation: count the RDDs still persisted, then drop every
    cached table and persisted RDD so the next pass starts clean.
    Returns the count taken before the release."""
    jsc = spark.sparkContext._jsc
    n = jsc.getPersistentRDDs().size()
    spark.catalog.clearCache()
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    return n


# ---------------------------------------------------------------------
# model-layer replay
# ---------------------------------------------------------------------


def _child_prompt(node, parent_text: str, lang: str) -> str:
    """The prompt the engine builds for a child node (UIEEngine's
    prompt-expansion join), in plain Python."""
    from uie_pytorch_spark.core.textnorm import dbc2sbc

    if lang == "en":
        prefix, suffix = node.en_prompt_parts()
        raw = (prefix + " of " + parent_text + suffix) if suffix else (
            node.name + " of " + parent_text
        )
    else:
        raw = parent_text + "的" + node.name
    return dbc2sbc(raw)


def model_inputs(schema, lang: str, max_seq_len: int, docs: dict,
                 parent_spans: dict) -> list:
    """Per extraction stage, the list of (prompt, chunk) rows the
    engine chunks the input into, rebuilt with ``core.textnorm`` from
    the documents and the spans of each parent node.

    ``docs``: doc_id -> text; ``parent_spans``: node path -> list of
    (doc_id, span text) for every node that has children."""
    from uie_pytorch_spark.core.textnorm import (
        dbc2sbc,
        max_predict_len,
        split_windows,
    )
    from uie_pytorch_spark.schema import build_tree

    stages = []
    queue = [(c, None) for c in build_tree(schema).children]
    while queue:
        node, parent = queue.pop(0)
        if parent is None:
            prompt = dbc2sbc(node.name)
            mpl = max_predict_len([prompt], max_seq_len)
            examples = [(prompt, text) for text in docs.values()]
        else:
            spans = parent_spans.get(parent.path, [])
            prompts = [_child_prompt(node, t, lang) for _, t in spans]
            mpl = max_predict_len(prompts, max_seq_len) if prompts else 0
            examples = [(p, docs[d]) for p, (d, _) in zip(prompts, spans)]
        stages.append(
            [(p, c) for p, text in examples for c in split_windows(text, mpl)]
        )
        queue.extend((child, node) for child in node.children)
    return stages


def replay_model(stages: list, seed: int, max_seq_len: int,
                 position_prob: float, batch_rows: int = 2048) -> dict:
    """Run each stage's unique (prompt, chunk) rows through the
    tokenizer, the bucketed model forward and the span decoder, in this
    process on one thread, in batches of the session's Arrow batch
    size; time each layer and count its work."""
    import numpy as np

    from uie_pytorch_spark.core.model import PAD_BUCKET, forward_bucketed, get_model
    from uie_pytorch_spark.core.spans import char_spans_to_results, decode_example
    from uie_pytorch_spark.core.tokenizer import encode_batch

    model = get_model(seed)
    max_pos = model.pos_emb.shape[0]
    out = {"chunks": 0, "rows": 0, "encode_s": 0.0, "forward_s": 0.0,
           "decode_s": 0.0, "spans": 0, "cls_votes": 0,
           "real_tokens": 0, "bucket_tokens": 0}
    by_bucket = defaultdict(int)
    for rows in stages:
        out["chunks"] += len(rows)
        unique = list(dict.fromkeys(rows))
        out["rows"] += len(unique)
        for lo in range(0, len(unique), batch_rows):
            prompts, chunks = zip(*unique[lo:lo + batch_rows])
            t0 = time.perf_counter()
            enc = encode_batch(prompts, chunks, max_seq_len=max_seq_len)
            t1 = time.perf_counter()
            start_p, end_p = forward_bucketed(
                model, enc["input_ids"], enc["token_type_ids"],
                enc["attention_mask"],
            )
            t2 = time.perf_counter()
            for b in range(len(prompts)):
                spans = decode_example(
                    start_p[b], end_p[b], enc["offset_mapping"][b], position_prob
                )
                for r in char_spans_to_results(spans, chunks[b], prompts[b]):
                    out["spans"] += 1
                    out["cls_votes"] += "start" not in r
            t3 = time.perf_counter()
            out["encode_s"] += t1 - t0
            out["forward_s"] += t2 - t1
            out["decode_s"] += t3 - t2
            real = enc["attention_mask"].sum(axis=1)
            bucket = np.minimum(-(-np.maximum(real, 1) // PAD_BUCKET) * PAD_BUCKET, max_pos)
            out["real_tokens"] += int(real.sum())
            out["bucket_tokens"] += int(bucket.sum())
            for b in bucket.tolist():
                by_bucket[int(b)] += 1
    out["rows_by_bucket"] = dict(by_bucket)
    return out
