"""Default-path oracle smoke for the similarity top-k family (exact,
LSH, IVF, int8, binary, PQ/IVF-PQ, re-rank, fusion and diversified
rankers) and its cell-assignment / PQ-encode consumers: each query runs
at sf0.001 and must match its DuckDB ``oracle_sql()`` under the same
order-insensitive comparison as tools/check_oracle.py."""

from __future__ import annotations

import glob
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
    "lsh_topk",
    "ivf_topk",
    "int8_topk_recall",
    "binary_hamming_recall",
    "binary_rerank_recall",
    "ivfpq_rerank_recall",
    "ivfpq_residual_recall",
    "rrf_fusion",
    "hybrid_search",
    "diversified_topk",
    "mmr_topk",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        table = os.path.splitext(os.path.basename(path))[0]
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
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
