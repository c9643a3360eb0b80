"""Seeded input generators for the four workloads.

Every generator is a pure function of ``(seed, size)``: the same seed
gives byte-identical parquet files. Inputs are written with pyarrow so
that generating them costs no Spark job and stays out of the timed
region. The program under test only ever sees the written files.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The word list of the documents table the repository's TPC-H-style
# fixtures use (median ~300 chars of word salad), so generated flagship
# documents look like the ones the engine was tuned on.
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

# English sentences for the mirrored pages: real-looking subjects and
# facts so the sentiment classifier has text to vote on.
SENTENCES = [
    "John Smith is the chief executive officer of Acme Corporation.",
    "The annual conference was hosted by the National Science Society.",
    "An earthquake of magnitude 6.2 struck the coastal region yesterday.",
    "Revenue grew by twenty percent in the third quarter.",
    "The restaurant's food was decent but the service was slow.",
    "Alice Johnson won the international chess championship in 2021.",
    "The new library opened downtown and visitors praised its design.",
    "Heavy rain delayed the final match of the tennis open.",
]


def _write(path: str, table: pa.Table) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


def _salad(rng: random.Random, n_chars: int) -> str:
    words = []
    size = -1
    while size < n_chars:
        w = rng.choice(WORDS)
        words.append(w)
        size += len(w) + 1
    return " ".join(words)


# The seed varies document ids, urls and order but not the texts, so
# every seed asks for the same model work and the run-to-run spread of a
# metric is the system's, not the input size's.
BASE_SEED = 20241016


def flagship_docs(path: str, seed: int, n_docs: int) -> str:
    """(doc_id, text) documents, 44-577 chars, nearly all distinct: one
    model window per document, so dedup has nothing to collapse."""
    base = random.Random(BASE_SEED)
    texts = [_salad(base, base.randint(44, 560)) for _ in range(n_docs)]
    rng = random.Random(seed)
    rng.shuffle(texts)
    ids = rng.sample(range(1 << 40), n_docs)
    return _write(
        path,
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
            }
        ),
    )


def _pages_table(rows) -> pa.Table:
    """rows of (url, warc_ts, html, text, lang) in the web-pages schema
    of ``sources.web_pages``."""
    url, ts, html, text, lang = zip(*rows)
    return pa.table(
        {
            "url": pa.array(url, pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us")),
            "html": pa.array(html, pa.binary()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(lang, pa.string()),
        }
    )


def mirror_pages(path: str, seed: int, n_texts: int, n_mirrors: int) -> str:
    """Web pages where ``n_texts`` distinct multi-window texts are each
    mirrored ``n_mirrors`` times under distinct urls, so the engine's
    (prompt, chunk) dedup collapses most model work."""
    rng = random.Random(seed)
    t0 = dt.datetime(2024, 1, 1)
    rows = []
    for t in range(n_texts):
        parts = []
        while sum(len(p) + 1 for p in parts) < 1100:
            parts.append(
                rng.choice(SENTENCES) if rng.random() < 0.6
                else _salad(rng, rng.randint(30, 90)) + "."
            )
        text = " ".join(parts)
        html = b"<html><body>" + text.encode("utf-8") + b"</body></html>"
        for m in range(n_mirrors):
            url = f"https://mirror{m}.example.net/{seed}/article/{t}"
            rows.append((url, t0 + dt.timedelta(minutes=len(rows)), html, text, "en"))
    rng.shuffle(rows)
    return _write(path, _pages_table(rows))


# Domain names for the fixture's four domains, picked so that at 3
# buckets no (domain, salt) pair of ``kg.lineage.salted_partition_key``
# lands in bucket 1, and every domain (the hot one too) spreads its
# four salts two to bucket 0 and two to bucket 2: every variant has an
# empty bucket 1 and about half of the pages in each other bucket.
BACKFILL_DOMAINS = {
    "hot.example.com": "hot23.example.com",
    "alpha.example.org": "alpha10.example.org",
    "beta.example.net": "beta10.example.net",
    "gamma.example.io": "gamma24.example.io",
}


def backfill_pages(path: str, seed: int, n_docs: int) -> str:
    """The repository's own fixture corpus (zh + en, a 35% hot domain,
    ~8% long documents), written as the parquet input ``cli.main``
    reads, with the domains renamed by ``BACKFILL_DOMAINS``. The seed
    renames the url paths, which moves pages between the salted
    buckets."""
    from uie_pytorch_spark.sources.web_pages import generate_fixture_rows

    def rename(url: str) -> str:
        scheme, _, host, rest = url.split("/", 3)
        path = rest.replace("page/", f"{rng.getrandbits(32):08x}/", 1)
        return f"{scheme}//{BACKFILL_DOMAINS[host]}/{path}"

    rng = random.Random(seed)
    rows = [
        (rename(url), *rest)
        for url, *rest in generate_fixture_rows(n_docs, BASE_SEED)
    ]
    rng.shuffle(rows)
    return _write(path, _pages_table(rows))


_NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA",
    "ROMANIA", "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM",
    "UNITED STATES",
]


def battery_tables(root: str, seed: int, scale: float) -> str:
    """The seven tables the operator battery reads, in the column
    layout of the repository's TPC-H-style test data. ``scale`` = 1.0
    is 60,000 lineitems and 1,000 documents."""
    rs = np.random.default_rng(seed)
    rng = random.Random(seed)
    n_line = int(60_000 * scale)
    n_ord = max(n_line // 4, 1)
    n_cust = max(n_ord // 10, 1)
    n_supp = max(n_line // 600, 10)
    n_docs = max(int(1_000 * scale), 200)
    n_emb = max(int(1_000 * scale), 200)
    epoch = np.datetime64("1992-01-01T00:00:00", "us")
    day = np.timedelta64(86_400_000_000, "us")

    def days(n):
        return epoch + rs.integers(0, 2_400, n) * day

    _write(f"{root}/nation.parquet", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": _NATIONS,
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    _write(f"{root}/supplier.parquet", pa.table({
        "s_suppkey": pa.array(range(1, n_supp + 1), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": pa.array(rs.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rs.uniform(-999, 9999, n_supp), 2),
    }))
    _write(f"{root}/customer.parquet", pa.table({
        "c_custkey": pa.array(range(1, n_cust + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(rs.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rs.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": rs.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust,
        ),
    }))
    _write(f"{root}/orders.parquet", pa.table({
        "o_orderkey": pa.array(range(1, n_ord + 1), pa.int64()),
        "o_custkey": pa.array(rs.integers(1, n_cust + 1, n_ord), pa.int64()),
        "o_orderstatus": rs.choice(["F", "O", "P"], n_ord, p=[0.49, 0.49, 0.02]),
        "o_totalprice": np.round(rs.uniform(900, 500_000, n_ord), 2),
        "o_orderdate": pa.array(days(n_ord), pa.timestamp("us")),
        "o_orderpriority": rs.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    }))
    qty = rs.integers(1, 51, n_line).astype(np.float64)
    _write(f"{root}/lineitem.parquet", pa.table({
        "l_orderkey": pa.array(rs.integers(1, n_ord + 1, n_line), pa.int64()),
        "l_partkey": pa.array(rs.integers(1, 20_000, n_line), pa.int64()),
        "l_suppkey": pa.array(rs.integers(1, n_supp + 1, n_line), pa.int64()),
        "l_linenumber": pa.array(rs.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rs.uniform(900, 2_000, n_line), 2),
        "l_discount": np.round(rs.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rs.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rs.choice(["A", "N", "R"], n_line),
        "l_linestatus": rs.choice(["F", "O"], n_line),
        "l_shipdate": pa.array(days(n_line), pa.timestamp("us")),
    }))
    texts = [_salad(rng, rng.randint(44, 560)) for _ in range(n_docs)]
    _write(f"{root}/documents.parquet", pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [rng.choice(["en", "zh", "es", "fr", "de"]) for _ in texts],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }))
    labels = rs.integers(0, 10, n_emb)
    centers = rs.normal(size=(10, 64))
    vecs = (centers[labels] + 0.5 * rs.normal(size=(n_emb, 64))).astype(np.float32)
    _write(f"{root}/embeddings.parquet", pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }))
    return root
