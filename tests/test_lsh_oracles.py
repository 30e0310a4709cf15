"""Every LSH-family contract query equals its DuckDB oracle exactly.

These are the queries that run through the banded-bucket join layer in
operators/dedup.py (MinHash all-pairs, star, capped and incremental,
SimHash, and the sign-LSH embedding forms) plus the verify / components /
keep stages built on their candidates.  Comparison is the contract
checker's: same column names and the same order-insensitive value frame.
"""

import duckdb
import pytest

from tools.check_contract import TABLES, norm_frame

SF_DIR = "/root/testdata/sf0.001"

LSH_QUERIES = [
    "minhash_lsh_pairs",
    "minhash_lsh_star",
    "minhash_lsh_capped",
    "minhash_lsh_pairs_incremental",
    "near_dup_components",
    "near_dup_verified",
    "dedup_near_keep",
    "conv_near_dedup",
    "simhash_near_dup",
    "embedding_near_dup_lsh",
    "embedding_near_dup_incremental",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", LSH_QUERIES)
def test_lsh_query_matches_oracle(spark, duck, name):
    import __spark_entry__ as E

    got = norm_frame(E.queries()[name](spark, SF_DIR).toPandas())
    want = norm_frame(duck.execute(E.oracle_sql()[name]).df())
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) and len(want) > 0
    assert got.equals(want)
