#!/usr/bin/env python
"""Freeze EAGER-ORACLE outputs for the four model-backed queries as
parquet under tests/frozen/, making them driver-checkable (the DuckDB
oracle for each becomes `SELECT ... FROM read_parquet(...)`).

Provenance of each golden (NOT produced by the Spark engine):
  * uie_flagship_triples / uie_entities — tests/oracle_uie.OracleUIE,
    the eager single-process reimplementation of the reference BFS
    dataflow over the shared kernel, run on the sf0.01 documents
    table. The distributed engine must match it bitwise (prob doubles
    included — the kernel is batch-invariant and BLAS is pinned to one
    thread in every process).
  * kg_canonical_entities — tests/eager_kg.canonicalize_surfaces, a
    plain-Python replication of the canonicalization tier (md5 h60
    minhash/banding, XXH64-42 ids, union-find CC).
  * uie_nested_export — the eager oracle's SPANS rendered by the
    INDEPENDENT plain-Python serializer (tests/eager_export.py), which
    byte-matches Spark's to_json output (proven corpus-wide by
    tests/test_training_export.py); neither the nesting nor the
    formatting layer imports uie_pytorch_spark.export.

Rerun this script and commit the diff whenever the kernel or fixture
corpus changes intentionally, under the SKYLAKEX kernel (see
freeze_goldens.py).
"""

from __future__ import annotations

import os
import sys
from multiprocessing import Pool

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
sys.path.insert(0, os.path.join(_REPO, "tests"))

from uie_pytorch_spark.core import pin_blas_single_thread  # noqa: E402

pin_blas_single_thread()

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
OUT_DIR = os.path.join(_REPO, "tests", "frozen")

FLAGSHIP_SCHEMA = {"subject entity": ["related fact"]}
ENTITY_SCHEMA = ["subject entity"]


# ---------------------------------------------------------------------
# parallel eager inference: same global max_predict_len semantics as
# OracleUIE._single_stage, with the flat (prompt, chunk) list fanned
# over a process pool — infer_decode_batch is row-independent and the
# model is bitwise batch-invariant, so slicing never changes outputs.
# ---------------------------------------------------------------------

def _pool_init():
    pin_blas_single_thread()


def _infer_slice(args):
    prompts, chunks = args
    from uie_pytorch_spark.core.infer import infer_decode_batch
    from uie_pytorch_spark.core.model import get_model

    return infer_decode_batch(get_model(), prompts, chunks)


class PooledOracle:
    """OracleUIE with the inner inference parallelized."""

    def __init__(self, schema, pool: Pool, lang="zh"):
        from oracle_uie import OracleUIE

        self._o = OracleUIE(schema, lang=lang)
        self._pool = pool
        self._o._single_stage = self._single_stage  # type: ignore

    def extract(self, texts):
        return self._o.extract(texts)

    def _single_stage(self, examples):
        from oracle_uie import _chunks_with_offsets, _merge_example
        from uie_pytorch_spark.core.textnorm import max_predict_len

        if not examples:
            return []
        o = self._o
        prompts = [e["prompt"] for e in examples]
        mpl = max_predict_len(prompts, o.max_seq_len)
        flat_prompts, flat_chunks, spans_per_ex = [], [], []
        for e in examples:
            pairs = _chunks_with_offsets(e["text"], mpl, o.split_sentence)
            spans_per_ex.append(pairs)
            flat_prompts.extend([e["prompt"]] * len(pairs))
            flat_chunks.extend([c for c, _ in pairs])
        step = 64
        slices = [
            (flat_prompts[i : i + step], flat_chunks[i : i + step])
            for i in range(0, len(flat_prompts), step)
        ]
        all_records = []
        for part in self._pool.map(_infer_slice, slices):
            all_records.extend(part)
        results, i = [], 0
        for pairs in spans_per_ex:
            recs = all_records[i : i + len(pairs)]
            i += len(pairs)
            results.append(_merge_example(recs, [off for _, off in pairs]))
        return results


# ---------------------------------------------------------------------
# flatteners carrying real doc ids + probabilities
# ---------------------------------------------------------------------

def triples_rows(results, doc_ids):
    rows = []

    def walk(doc_id, span):
        for pred, children in span.get("relations", {}).items():
            for c in children:
                rows.append(
                    (
                        doc_id,
                        span["text"],
                        span.get("start"),
                        span.get("end"),
                        pred,
                        c["text"],
                        c.get("start"),
                        c.get("end"),
                        span["probability"],
                        c["probability"],
                    )
                )
                walk(doc_id, c)

    for doc_id, res in zip(doc_ids, results):
        for _, spans in res.items():
            for s in spans:
                walk(doc_id, s)
    return rows


def entity_rows(results, doc_ids):
    rows = []
    for doc_id, res in zip(doc_ids, results):
        for name, spans in res.items():
            for s in spans:
                rows.append(
                    (doc_id, name, s["text"], s.get("start"), s.get("end"),
                     s["probability"])
                )
    return rows


def span_table_rows(results, doc_ids):
    """engine.RESULT_COLS-shaped rows (export input)."""
    rows = []

    def walk(doc_id, path, span, parent_path, parent):
        rows.append(
            (
                doc_id,
                0,
                path,
                path.rsplit("/", 1)[-1],
                span["text"],
                span.get("start"),
                span.get("end"),
                span["probability"],
                "start" not in span,
                parent_path,
                None if parent is None else parent["text"],
                None if parent is None else parent.get("start"),
                None if parent is None else parent.get("end"),
                None if parent is None else parent["probability"],
            )
        )
        for child_name, children in span.get("relations", {}).items():
            for c in children:
                walk(doc_id, f"{path}/{child_name}", c, path, span)

    for doc_id, res in zip(doc_ids, results):
        for name, spans in res.items():
            for s in spans:
                walk(doc_id, name, s, None, None)
    return rows


def _write(name, cols, rows, schema: pa.Schema):
    os.makedirs(OUT_DIR, exist_ok=True)
    arrays = [pa.array([r[j] for r in rows], schema.field(j).type)
              for j in range(len(cols))]
    table = pa.Table.from_arrays(arrays, names=cols)
    pq.write_table(table, os.path.join(OUT_DIR, f"{name}.parquet"))
    print(f"{name}: {len(rows)} rows")


def main():
    import duckdb

    # targets: regenerate everything by default, or a subset via argv
    # (e.g. `freeze_query_oracles.py kg nested` after a hash-scheme or
    # export-format change that leaves the inference kernel untouched —
    # the kg/nested goldens are then derived from the existing frozen
    # uie parquet instead of re-running eager inference).
    targets = set(sys.argv[1:]) or {"uie", "kg", "nested"}
    unknown = targets - {"uie", "kg", "nested"}
    if unknown:
        raise SystemExit(f"unknown freeze targets: {sorted(unknown)}")

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_DIR}/documents.parquet') "
        "ORDER BY doc_id"
    ).fetchall()
    doc_ids = [r[0] for r in docs]
    texts = [r[1] for r in docs]

    flag = ents = None
    if "uie" in targets:
        with Pool(min(16, os.cpu_count() or 8), initializer=_pool_init) as pool:
            flag = PooledOracle(FLAGSHIP_SCHEMA, pool, lang="en").extract(texts)
            ents = PooledOracle(ENTITY_SCHEMA, pool, lang="en").extract(texts)
        _write_uie(flag, ents, doc_ids)
    if "kg" in targets:
        _freeze_kg(ents, doc_ids)
    if "nested" in targets:
        _freeze_nested(flag, doc_ids)


def _write_uie(flag, ents, doc_ids):
    _write(
        "uie_flagship_triples",
        ["doc_id", "subj_text", "subj_start", "subj_end", "pred",
         "obj_text", "obj_start", "obj_end", "subj_prob", "obj_prob"],
        sorted(triples_rows(flag, doc_ids), key=lambda r: (r[0], r[2] or -1, r[4], r[6] or -1, r[5])),
        pa.schema(
            [("doc_id", pa.int64()), ("subj_text", pa.string()),
             ("subj_start", pa.int64()), ("subj_end", pa.int64()),
             ("pred", pa.string()), ("obj_text", pa.string()),
             ("obj_start", pa.int64()), ("obj_end", pa.int64()),
             ("subj_prob", pa.float64()), ("obj_prob", pa.float64())]
        ),
    )
    _write(
        "uie_entities",
        ["doc_id", "node_name", "text", "start", "end", "prob"],
        sorted(entity_rows(ents, doc_ids), key=lambda r: (r[0], r[3] or -1, r[2])),
        pa.schema(
            [("doc_id", pa.int64()), ("node_name", pa.string()),
             ("text", pa.string()), ("start", pa.int64()),
             ("end", pa.int64()), ("prob", pa.float64())]
        ),
    )



def _freeze_kg(ents, doc_ids):
    """kg_canonical_entities golden via the eager union-find pipeline.
    When the uie goldens were not regenerated in this run, the surfaces
    come from the existing frozen uie_entities.parquet (same rows)."""
    from eager_kg import canonicalize_surfaces

    if ents is not None:
        surfaces = sorted(
            {r[2] for r in entity_rows(ents, doc_ids) if r[0] < 200}
        )
    else:
        t = pq.read_table(os.path.join(OUT_DIR, "uie_entities.parquet"))
        surfaces = sorted(
            {
                t.column("text")[i].as_py()
                for i in range(t.num_rows)
                if t.column("doc_id")[i].as_py() < 200
            }
        )
    _write(
        "kg_canonical_entities",
        ["surface", "surface_norm", "canonical_surface_id"],
        canonicalize_surfaces(surfaces),
        pa.schema(
            [("surface", pa.string()), ("surface_norm", pa.string()),
             ("canonical_surface_id", pa.int64())]
        ),
    )


def _freeze_nested(flag, doc_ids):
    """uie_nested_export golden: oracle spans + INDEPENDENT plain-Python
    JSON rendering (eager_export.render_doc_json — matches Spark's
    to_json byte format without importing uie_pytorch_spark.export, so
    the nesting/formatting projection is NOT checked against itself).
    When the uie goldens were not regenerated in this run, spans are
    reconstructed from the frozen uie parquet: roots = uie_entities
    (same prompts/kernel as the flagship root stage), children =
    uie_flagship_triples."""
    from eager_export import render_doc_json, span_rows_from_frozen

    if flag is not None:
        rows = span_table_rows(flag, doc_ids)
    else:
        rows = span_rows_from_frozen(OUT_DIR)
    nested = render_doc_json(rows)
    _write(
        "uie_nested_export",
        ["doc_id", "result_json"],
        nested,
        pa.schema([("doc_id", pa.int64()), ("result_json", pa.string())]),
    )


if __name__ == "__main__":
    main()
