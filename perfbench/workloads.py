"""The four workloads. Each one is a closed loop: one driver process
runs one batch job at a time against a ``local[4]`` session, and starts
the next only when the previous result has been checked.

A workload provides:
  * ``prepare()``: write its seeded inputs (no Spark). The seed picks
    one of ``VARIANTS`` input variants, and ``digests.json`` records the
    output digest of every variant, so every pass is checked against a
    reference kept in the repository;
  * ``warm()``: the first extraction or query of a fresh session,
    checked like a pass and timed as part of ``setup_s``;
  * ``iterate()``: one untraced pass over the seeded input, returning
    (wall seconds, output rows, output digest);
  * ``record()``: the reference digests of the current variant, for
    ``run.py --record``;
  * ``traced()``: one pass through the same public functions with a
    span and a Spark job group around every call, plus the counts the
    per-layer table needs.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import sys
import time

import inputs
import tracing
from tracing import Tracer
from uie_pytorch_spark import cli

HERE = os.path.dirname(os.path.abspath(__file__))
VARIANTS = 16


def digest(df) -> str:
    """Order-free digest of a DataFrame: row count plus the bit_xor of
    the xxhash64 of every row. Doubles are hashed as float32, so a last
    ulp difference from a reordered sum does not read as a mismatch."""
    from pyspark.sql import functions as F

    cols = [
        F.col(f.name).cast("float") if f.dataType.typeName() == "double"
        else F.col(f.name)
        for f in df.schema.fields
    ]
    row = df.agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("x")
    ).first()
    return f"{row['n']}:{row['x'] or 0}"


def digest_rows(d: str) -> int:
    return int(d.split(":", 1)[0])


def table_key(workload: str, smoke: bool) -> str:
    """digests.json key: smoke-mode inputs are smaller, so they have a
    table of their own."""
    return f"{workload}@smoke" if smoke else workload


def recorded() -> dict:
    with open(os.path.join(HERE, "digests.json")) as f:
        return json.load(f)


class Workload:
    name = ""
    variants = VARIANTS

    def __init__(self, bench):
        self.b = bench
        self.work = bench.work

    @property
    def spark(self):
        return self.b.spark

    @property
    def variant(self) -> int:
        return self.b.seed % self.variants

    def expected(self, key: str = "pass") -> str:
        table = recorded().get(table_key(self.name, self.b.smoke), {})
        table = table.get(str(self.variant), {})
        return table.get(key, "<not recorded>")

    def check_pass(self, what: str, d: str) -> bool:
        return self.b.check(f"{what} (variant {self.variant})", d, self.expected())

    def prepare(self) -> None:
        raise NotImplementedError

    def warm(self) -> None:
        raise NotImplementedError

    def iterate(self) -> tuple:
        raise NotImplementedError

    def traced(self, tr: Tracer) -> dict:
        raise NotImplementedError

    def record(self) -> dict:
        return {"pass": self.iterate()[2]}


# ---------------------------------------------------------------------
# extraction workloads: flagship and mirror_crawl
# ---------------------------------------------------------------------


class _Extraction(Workload):
    schema: dict = {}
    lang = "en"

    def docs(self, path: str):
        raise NotImplementedError

    def engine(self):
        from uie_pytorch_spark.engine import UIEConfig, UIEEngine

        return UIEEngine(self.spark, self.schema, UIEConfig(lang=self.lang))

    def extract_digest(self, path: str) -> tuple:
        from uie_pytorch_spark.engine import UIEEngine

        t0 = time.monotonic()
        eng = self.engine()
        d = digest(UIEEngine.triples(eng.extract(self.docs(path))))
        wall = time.monotonic() - t0
        eng.unpersist()
        return wall, digest_rows(d), d

    def iterate(self) -> tuple:
        return self.extract_digest(self.input)

    def traced(self, tr: Tracer) -> dict:
        from pyspark.sql import functions as F

        from uie_pytorch_spark.engine import UIEConfig, UIEEngine

        docs = self.docs(self.input)
        with tr.span("engine.extract"):
            eng = self.engine()
            spans = eng.extract(docs)
        with tr.span("engine.materialize"):
            d = digest(UIEEngine.triples(spans))
        self.check_pass("traced output", d)
        with tr.span("trace.collect"):
            parents = [
                n.path for n in _nodes(self.schema) if n.children
            ]
            rows = (
                spans.filter(F.col("node_path").isin(parents))
                .select("doc_id", "node_path", "text").collect()
            )
            doc_rows = docs.collect()
        eng.unpersist()
        persisted = self.b.release()
        parent_spans = {}
        for r in rows:
            parent_spans.setdefault(r["node_path"], []).append(
                (r["doc_id"], r["text"])
            )
        cfg = UIEConfig(lang=self.lang)
        stages = tracing.model_inputs(
            self.schema, self.lang, cfg.max_seq_len,
            {r["doc_id"]: r["text"] for r in doc_rows}, parent_spans,
        )
        rp = tracing.replay_model(stages, cfg.seed, cfg.max_seq_len, cfg.position_prob)
        m = eng.metrics
        self.b.check("replayed model rows", rp["rows"], m["inference_rows"])
        extract_s = tr.seconds("engine.extract")
        out = {
            "engine.persisted_rdds_after": persisted,
            "engine.extract_s": extract_s,
            "engine.materialize_s": tr.seconds("engine.materialize"),
            "engine.chunks": rp["chunks"],
            "engine.inference_rows": m["inference_rows"],
            "engine.decoded_spans": m["decoded_spans"],
            "engine.dedup_ratio": rp["chunks"] / max(rp["rows"], 1),
            "engine.cls_votes": rp["cls_votes"],
            "core.tokenizer.encode_s": rp["encode_s"],
            "core.tokenizer.pad_ratio": rp["bucket_tokens"] / max(rp["real_tokens"], 1),
            "core.model.forward_s": rp["forward_s"],
            "core.model.ms_per_row": 1000.0 * rp["forward_s"] / max(rp["rows"], 1),
            "core.spans.decode_s": rp["decode_s"],
            "core.infer.model_share": (
                (rp["encode_s"] + rp["forward_s"] + rp["decode_s"])
                / self.b.cores / max(extract_s, 1e-9)
            ),
        }
        for bl, n in rp["rows_by_bucket"].items():
            out[f"core.model.rows_L{bl:03d}"] = n
        counts = tr.spark_counts("engine.extract", "engine.materialize")
        out.update({f"engine.{k}": v for k, v in counts.items()})
        # extract + materialize is the whole pass
        out["trace.wall_s"] = out["trace.parts_s"] = extract_s + out["engine.materialize_s"]
        return out


def _nodes(schema):
    from uie_pytorch_spark.schema import build_tree

    stack = list(build_tree(schema).children)
    while stack:
        node = stack.pop()
        yield node
        stack.extend(node.children)


class Flagship(_Extraction):
    """Distinct English documents, one span node and one relation node:
    the largest model share, and no duplicate model inputs."""

    name = "flagship"
    schema = {"subject entity": ["related fact"]}
    # a copy of the sf0.01 documents table of the repository's test
    # data: the input the frozen flagship triples were made from
    golden_dir = os.path.join(HERE, "data", "sf0.01")

    def __init__(self, bench):
        super().__init__(bench)
        self.input = os.path.join(self.work, "docs.parquet")
        self.quarter = os.path.join(self.work, "docs_quarter.parquet")

    def prepare(self) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        n = 60 if self.b.smoke else 400
        inputs.flagship_docs(self.input, self.variant, n)
        t = pq.read_table(self.input)
        pq.write_table(
            t.filter(pc.equal(pc.bit_wise_and(t["doc_id"], 3), 0)), self.quarter
        )

    def docs(self, path: str):
        return self.spark.read.parquet(path).select("doc_id", "text")

    def golden_digest(self) -> str:
        """The flagship triples frozen in the repository's tests
        (the same table ``__spark_entry__.entry`` returns)."""
        frozen = os.path.join(self.b.root, "tests", "frozen", "uie_flagship_triples.parquet")
        return digest(self.spark.read.parquet(frozen))

    def warm(self) -> None:
        import __spark_entry__

        flagship = __spark_entry__.queries()["uie_flagship_triples"]
        d = digest(flagship(self.spark, self.golden_dir))
        self.b.check("flagship sf0.01 vs frozen triples", d, self.golden_digest())
        self.b.release()
        # one untimed pass over the seeded input: the first pass after
        # the golden extraction still runs ~15% slower while the JVM's
        # compilers catch up
        self.check_pass("warm-up pass", self.iterate()[2])
        self.b.release()

    def record(self) -> dict:
        return {"pass": self.iterate()[2], "quarter": self.extract_digest(self.quarter)[2]}

    def traced(self, tr: Tracer) -> dict:
        out = super().traced(tr)
        out.update(self.operator_battery(tr))
        out["engine.scaling_eff_1to4"] = self.scaling()
        return out

    def operator_battery(self, tr: Tracer) -> dict:
        """The ``queries``/``operators`` layer, measured in this session
        (the ``session`` config: shuffled-hash joins, AQE): the operator
        battery on its own seeded tables, one checked warm-up pass, then
        one traced pass."""
        battery = OperatorBattery(self.b)
        battery.prepare()
        battery.warm()
        return battery.layer_metrics(tr)

    def scaling(self) -> float:
        """triples/s at local[4] over 4x triples/s at local[1], the
        local[1] leg in its own fresh session on the quarter of the
        input with ``doc_id % 4 == 0``. Each side is the median of its
        untraced passes."""
        walls4 = self.b.walls
        tps4 = statistics.median(r / w for w, r in walls4)
        self.b.stop()
        self.b.start(cores=1)
        self.extract_digest(self.quarter)  # fresh workers warm up
        self.b.release()
        runs = []
        deadline = time.monotonic() + max(self.b.seconds / 2, 1)
        while not runs or time.monotonic() < deadline:
            w, n, d = self.extract_digest(self.quarter)
            if self.b.check("local[1] output", d, self.expected("quarter")):
                runs.append((w, n))
            self.b.release()
        tps1 = statistics.median(n / w for w, n in runs)
        return tps4 / (4 * tps1)


class MirrorCrawl(_Extraction):
    """A few distinct multi-window pages mirrored under many urls, with a
    classification child: dedup collapses the model work, so the
    engine's chunk explode, distinct exchange, join-back and vote
    dominate."""

    name = "mirror_crawl"
    schema = {"subject entity": ["related fact", "sentiment [positive, negative]"]}

    def __init__(self, bench):
        super().__init__(bench)
        self.input = os.path.join(self.work, "pages.parquet")

    def prepare(self) -> None:
        texts, mirrors = (3, 12) if self.b.smoke else (6, 40)
        inputs.mirror_pages(self.input, self.variant, texts, mirrors)

    def docs(self, path: str):
        from uie_pytorch_spark.sources.web_pages import docs_view

        return docs_view(self.spark.read.parquet(path)).select("doc_id", "text")

    def warm(self) -> None:
        self.check_pass("warm-up output", self.iterate()[2])
        self.b.release()


# ---------------------------------------------------------------------
# kg_backfill: crash half-way, resume through the CLI
# ---------------------------------------------------------------------


class KgBackfill(Workload):
    """The CLI's checkpointed backfill over the fixture web corpus: the
    first leg crashes after half the buckets, then ``cli.main`` resumes
    with the same run id, canonicalizes entities and writes edges."""

    name = "kg_backfill"
    variants = 8
    schema = {"竞赛名称": ["主办方"]}
    lang = "zh"
    # bucket 1 is empty on every input variant (see
    # inputs.BACKFILL_DOMAINS): the crash leg commits bucket 0, the
    # resume the empty bucket 1 and bucket 2
    buckets = 3

    def __init__(self, bench):
        super().__init__(bench)
        self.input = os.path.join(self.work, "pages")
        self.runs = 0
        self.pending = None

    def prepare(self) -> None:
        n = 24 if self.b.smoke else 48
        inputs.backfill_pages(os.path.join(self.input, "p.parquet"), self.variant, n)

    def _extract_fn(self, tr: Tracer | None = None):
        """The per-bucket extraction ``cli.main`` runs, with the engine
        call in its own span when traced."""
        from pyspark.sql import functions as F

        from uie_pytorch_spark.engine import UIEConfig, UIEEngine

        def extract_fn(part_pages):
            docs = part_pages.select(F.xxhash64("url").alias("doc_id"), "text")
            eng = UIEEngine(self.spark, self.schema, UIEConfig(lang=self.lang))
            if tr is None:
                return UIEEngine.triples(eng.extract(docs))
            with tr.span("engine.extract"):
                return UIEEngine.triples(eng.extract(docs))

        return extract_fn

    def _out(self) -> str:
        self.runs += 1
        out = os.path.join(self.work, f"kg_out_{self.runs}")
        shutil.rmtree(out, ignore_errors=True)
        return out

    def _cli_args(self, pages_dir: str, out: str, run_id: str) -> list:
        return [
            "--input", pages_dir, "--output", out, "--run-id", run_id,
            "--schema", json.dumps(self.schema, ensure_ascii=False),
            "--buckets", str(self.buckets), "--lang", self.lang,
        ]

    def outputs(self, out: str) -> dict:
        read = self.spark.read.parquet
        return {
            "triples": digest(read(f"{out}/triples").drop("part_key")),
            "entities": digest(read(f"{out}/entities")),
            "edges": digest(read(f"{out}/edges")),
        }

    def crash(self, tr: Tracer | None = None) -> tuple:
        """The first leg: a fresh run that crashes after half the
        buckets. Returns (output dir, run id) for the resume."""
        from uie_pytorch_spark.kg.lineage import CheckpointedRun

        out, run_id = self._out(), f"run-{self.runs}"
        pages = self.spark.read.parquet(self.input)
        run = CheckpointedRun(self.spark, out, run_id=run_id, buckets=self.buckets)
        try:
            run.run(pages, self._extract_fn(tr), fail_after_partitions=self.buckets // 2)
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        else:
            raise AssertionError("the first leg did not crash")
        self.b.check("buckets done before the crash", len(self._lineage(out, run_id)),
                     self.buckets // 2)
        return out, run_id

    def _lineage(self, out: str, run_id: str) -> list:
        import pyarrow.parquet as pq

        lin = pq.read_table(f"{out}/lineage").to_pylist()
        return [r for r in lin if r["run_id"] == run_id]

    def warm(self) -> None:
        """The crash leg is the set-up: its bucket extraction is the
        session's first warm extraction. (A warm-up ``cli.main`` run
        before it did not make the first resume steady: see README.)"""
        self.pending = self.crash()
        self.b.release()

    def record(self) -> dict:
        """The reference is an UNINTERRUPTED run, so every timed resume
        checks that crash + resume reproduces it."""
        out = self._out()
        with contextlib.redirect_stdout(sys.stderr):
            cli.main(self._cli_args(self.input, out, "uninterrupted"))
        return {"pass": json.dumps(self.outputs(out), sort_keys=True)}

    def iterate(self) -> tuple:
        """Times the resume through ``cli.main`` (restart -> resumed
        triples, entities and edges written). The crash leg before it
        is untimed; for the first pass it ran in ``warm``."""
        out, run_id = self.pending or self.crash()
        self.pending = None
        t0 = time.monotonic()
        with contextlib.redirect_stdout(sys.stderr):  # cli prints a JSON line
            cli.main(self._cli_args(self.input, out, run_id))
        wall = time.monotonic() - t0
        self.b.check("lineage rows after the resume", len(self._lineage(out, run_id)),
                     self.buckets)
        outs = self.outputs(out)
        return wall, digest_rows(outs["triples"]), json.dumps(outs, sort_keys=True)

    def traced(self, tr: Tracer) -> dict:
        """The crash leg in a span, then the resume repeated step by step
        through the public functions ``cli.main`` calls, each in its own
        span."""
        from pyspark.sql import functions as F

        from uie_pytorch_spark.kg.canonicalize import canonicalize_mentions
        from uie_pytorch_spark.kg.graph import entity_edges, surface_canonical_map
        from uie_pytorch_spark.kg.lineage import CheckpointedRun
        from uie_pytorch_spark.sources.web_pages import extract_text

        spark = self.spark
        with tr.span("kg.lineage.crash_leg"):
            out, run_id = self.crash(tr)
        t1 = time.monotonic()
        pages = spark.read.parquet(self.input)
        with tr.span("cli.invariant_check"):
            bad = (
                extract_text(pages).filter(F.col("extracted") != F.col("text"))
                .limit(1).count()
            )
        self.b.check("text-extraction invariant", bad, 0)
        run = CheckpointedRun(spark, out, run_id=run_id, buckets=self.buckets)
        with tr.span("kg.lineage.run"):
            triples = run.run(pages, self._extract_fn(tr))
        with tr.span("kg.canonicalize"):
            mentions = (
                triples.select(F.col("subj_text").alias("surface"))
                .union(triples.select(F.col("obj_text").alias("surface")))
                .distinct()
                .withColumn("mention_id", F.xxhash64("surface"))
            )
            canonicalize_mentions(mentions).write.mode("overwrite").parquet(
                f"{out}/entities"
            )
        with tr.span("kg.graph.edges"):
            entity_edges(
                triples,
                surface_canonical_map(spark.read.parquet(f"{out}/entities")),
            ).write.mode("overwrite").parquet(f"{out}/edges")
        with tr.span("cli.triples_count"):
            triples.count()
        t2 = time.monotonic()
        persisted = self.b.release()
        outs = self.outputs(out)
        self.check_pass("traced output", json.dumps(outs, sort_keys=True))
        lin = self._lineage(out, run_id)
        self.b.check("lineage rows after the resume", len(lin), self.buckets)
        resumed = sorted(
            (r for r in lin if r["updated_at"] is not None), key=lambda r: r["updated_at"]
        )[self.buckets // 2:]
        walls = [r["wall_ms"] / 1000.0 for r in resumed]
        rows_in = sorted(r["rows_in"] for r in lin)
        empty = [r["wall_ms"] / 1000.0 for r in lin if r["rows_in"] == 0]
        read = spark.read.parquet
        canon_counts = tr.spark_counts("kg.canonicalize")
        out_metrics = {
            "engine.persisted_rdds_after": persisted,
            "cli.invariant_check_s": tr.seconds("cli.invariant_check"),
            "cli.triples_count_s": tr.seconds("cli.triples_count"),
            "kg.lineage.crash_leg_s": tr.seconds("kg.lineage.crash_leg"),
            "kg.lineage.run_s": tr.seconds("kg.lineage.run"),
            "kg.lineage.bucket_s_p50": statistics.median(walls),
            "kg.lineage.bucket_s_max": max(walls),
            "kg.lineage.empty_bucket_s": statistics.mean(empty) if empty else 0.0,
            "kg.lineage.rows_in_skew": rows_in[-1] / max(statistics.median(rows_in), 1),
            "kg.canonicalize.s": tr.seconds("kg.canonicalize"),
            "kg.canonicalize.spark_jobs": canon_counts["spark_jobs"],
            "kg.canonicalize.mentions": read(f"{out}/entities").count(),
            "kg.canonicalize.entities": read(f"{out}/entities")
            .select("canonical_surface_id").distinct().count(),
            "kg.graph.edges_s": tr.seconds("kg.graph.edges"),
            "kg.graph.edges": read(f"{out}/edges").count(),
            "engine.extract_s": tr.seconds("engine.extract"),
        }
        counts = tr.spark_counts(*tracing.ENGINE_GROUPS)
        out_metrics.update({f"engine.{k}": v for k, v in counts.items()})
        out_metrics["trace.wall_s"] = t2 - t1
        # the steps of cli.main's resume
        out_metrics["trace.parts_s"] = sum(
            out_metrics[k] for k in (
                "cli.invariant_check_s", "kg.lineage.run_s", "kg.canonicalize.s",
                "kg.graph.edges_s", "cli.triples_count_s",
            )
        )
        return out_metrics


# ---------------------------------------------------------------------
# operator_battery: no model, joins/aggregations/shuffles
# ---------------------------------------------------------------------

BATTERY = (
    "agg_pricing_summary",
    "join_broadcast_dims",
    "double_dim_join",
    "minhash_signature",
    "lsh_candidate_pairs",
    "simhash_fingerprint",
    "doc_fingerprint",
    "window_cumulative_offset",
    "canonicalize_surface_forms",
    "srp_topk",
    "ivf_topk",
)


class OperatorBattery(Workload):
    """The nine registry queries of the repository's query battery plus
    the SRP and IVF top-k paths, over seeded TPC-H-style tables."""

    name = "operator_battery"

    def __init__(self, bench):
        super().__init__(bench)
        self.input = os.path.join(self.work, "tables")

    def prepare(self) -> None:
        inputs.battery_tables(self.input, self.variant, 0.1 if self.b.smoke else 0.3)

    def query(self, name: str, sf_dir: str):
        from pyspark.sql import functions as F

        if name in ("srp_topk", "ivf_topk"):
            from uie_pytorch_spark.operators.similarity import ivf_topk, srp_topk

            emb = self.spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            q = emb.select("vec_id").filter(F.col("vec_id") < 50)
            if name == "srp_topk":
                return srp_topk(emb, q, k=10, planes=8, dim=64)
            return ivf_topk(emb, q, k=10, n_centroids=32, n_probe=4)
        from uie_pytorch_spark.queries import QUERIES

        return QUERIES[name](self.spark, sf_dir)

    def battery(self, sf_dir: str, tr: Tracer | None = None) -> dict:
        out = {}
        for name in BATTERY:
            if tr is None:
                out[name] = digest(self.query(name, sf_dir))
            else:
                with tr.span(f"queries.{name}"):
                    out[name] = digest(self.query(name, sf_dir))
        return out

    def warm(self) -> None:
        self.check_pass("warm-up output", self.iterate()[2])
        self.b.release()

    def iterate(self) -> tuple:
        t0 = time.monotonic()
        out = self.battery(self.input)
        wall = time.monotonic() - t0
        rows = sum(digest_rows(d) for d in out.values())
        return wall, rows, json.dumps(out, sort_keys=True)

    def layer_metrics(self, tr: Tracer) -> dict:
        """One traced, checked pass: the time and Spark counts of every
        query."""
        out = self.battery(self.input, tr)
        self.check_pass("traced output", json.dumps(out, sort_keys=True))
        m = {f"queries.{n}_s": tr.seconds(f"queries.{n}") for n in BATTERY}
        counts = tr.spark_counts(*(f"queries.{n}" for n in BATTERY))
        m.update({f"queries.{k}": v for k, v in counts.items()})
        return m

    def traced(self, tr: Tracer) -> dict:
        m = self.layer_metrics(tr)
        m["trace.wall_s"] = m["trace.parts_s"] = sum(
            m[f"queries.{n}_s"] for n in BATTERY
        )
        return m


WORKLOADS = {
    w.name: w for w in (Flagship, MirrorCrawl, KgBackfill, OperatorBattery)
}
