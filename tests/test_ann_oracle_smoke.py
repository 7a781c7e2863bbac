"""Default-path oracle smoke for the exact top-k / cell-assignment /
PQ-encode consumers: each query runs at sf0.001 and must match its
DuckDB ``oracle_sql()`` under the same order-insensitive comparison as
tools/check_oracle.py."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from tools.check_oracle import table_key  # noqa: E402

QUERIES = [
    "cosine_topk",
    "filtered_ann_topk",
    "semdedup_prune",
    "pq_topk_recall",
    "ivfpq_topk_recall",
    "ann_join_recall",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    yield con
    con.close()


@pytest.mark.parametrize("name", QUERIES)
def test_ann_query_matches_oracle(spark, sf_dir, duck, name):
    sdf = entrymod.queries()[name](spark, sf_dir)
    res = duck.execute(entrymod.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    srows = [tuple(r) for r in sdf.collect()]
    assert drows, "oracle must return rows"
    assert sorted(sdf.columns) == sorted(dcols)
    assert table_key(srows, sdf.columns) == table_key(drows, dcols)
