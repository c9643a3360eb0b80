"""Local replica of the driver's correctness harness: run every
queries() entry at sf0.01 in Spark AND its oracle_sql() in DuckDB,
compare row count, column names, and order-insensitive values."""

from __future__ import annotations

import math

import duckdb
import pytest

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    if isinstance(v, int):
        return v
    return str(v)


def _rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = {}
    for r in rows:
        key = tuple(_norm(r[i]) for i in idx)
        out[key] = out.get(key, 0) + 1
    return out


import __spark_entry__ as entrymod  # noqa: E402

_ORACLES = entrymod.oracle_sql()
_QUERIES = entrymod.queries()
_CHECKED = sorted(set(_QUERIES) & set(_ORACLES))
# oracles that read tests/frozen/ (scripts/freeze_query_oracles.py)
_FROZEN = {n for n in _CHECKED if "/tests/frozen/" in _ORACLES[n]}


@pytest.fixture(scope="module")
def duck():
    con = _duck()
    yield con
    con.close()


@pytest.mark.parametrize("name", [
    pytest.param(n, marks=pytest.mark.frozen_kernel) if n in _FROZEN else n
    for n in _CHECKED
])
def test_query_matches_duckdb_oracle(spark, duck, name):
    sdf = _QUERIES[name](spark, SF_DIR)
    s_cols = [c.lower() for c in sdf.columns]
    s_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(_ORACLES[name])
    d_cols = [c[0].lower() for c in res.description]
    d_rows = res.fetchall()

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column names differ"
    assert len(s_rows) == len(d_rows), f"{name}: row count differs"
    assert _rowset(s_cols, s_rows) == _rowset(d_cols, d_rows), (
        f"{name}: values differ"
    )


def test_all_queries_have_entries():
    # every oracle has a query; inference-backed entries may omit oracle
    assert set(_ORACLES) <= set(_QUERIES)
    assert len(_CHECKED) >= 20
