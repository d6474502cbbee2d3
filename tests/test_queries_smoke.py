"""Value-parity gate: every declared query runs at sf0.001 and its result
MATCHES the DuckDB oracle (schema by sorted column name, row count, and
order-insensitive normalized values — the same contract as the driver's
hash gate, via tools.check_oracle.compare_result).

This makes oracle parity an automated pytest gate for ALL queries —
including the ones past the driver's 50-entry CORRECTNESS window — not
just a manual tools/check_oracle.py run.
"""

from __future__ import annotations

import duckdb
import pytest

from onetable_spark.queries import DRIVER_WINDOW, ORACLE_SQL, SPARK_QUERIES
from onetable_spark.session import TABLES
from tools.check_oracle import compare_result


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(SPARK_QUERIES))
def test_query_matches_oracle_values(spark, sf_dir, oracle_con, name):
    df = SPARK_QUERIES[name](spark, sf_dir)
    msg = compare_result(df, ORACLE_SQL[name], oracle_con)
    assert msg is None, f"{name}: {msg}"


# Round-6 lesson: a query can be driver-green at sf0.01 yet oracle-RED at
# sf0.001 (perplexity_buckets' old AVG(double) bucket key). Any query whose
# output depends on threshold / bucket / rounding logic must therefore prove
# parity at BOTH scales — a boundary document that doesn't exist at one scale
# can exist at the other. Kept to the threshold-sensitive set so the matrix
# stays in CI time.
SF_LARGE = "/root/testdata/sf0.01"
BOUNDARY_SENSITIVE = [
    "perplexity_buckets",   # bucket cuts on a rounded score
    "repetition_filter",    # ratio thresholds
    "approx_quantiles",     # interpolated percentiles, rounded
    "source_mixture",       # rounded shares
    "unigram_logprob",      # rounded log-prob sums
    "stratified_sample",    # hash-threshold sampling
    # r7 contract queries: their booleans are recall/subset thresholds
    # (ivf_raw_recall_ok sits EXACTLY at its >=4 bound at sf0.01)
    "minhash_lsh_dedup",
    "simhash_near_dups",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "semdedup_pairs",
    # r10: layout-contract booleans (span halving, probe-box pruning)
    "zorder_compaction",
    # r10: PQ / IVF-PQ recall-contract booleans
    "ann_pq_topk",
    "ann_ivfpq_topk",
    # r11: persisted-codes recall + partition-pruning contract booleans
    "ann_ivfpq_persisted",
]


@pytest.fixture(scope="module")
def oracle_con_large():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_LARGE}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.sf01boundary
@pytest.mark.parametrize("name", BOUNDARY_SENSITIVE)
def test_boundary_query_matches_oracle_at_sf001(spark, oracle_con_large, name):
    df = SPARK_QUERIES[name](spark, SF_LARGE)
    msg = compare_result(df, ORACLE_SQL[name], oracle_con_large)
    assert msg is None, f"{name}@sf0.01: {msg}"


def test_every_oracle_has_a_query():
    assert set(ORACLE_SQL) <= set(SPARK_QUERIES)


def test_driver_window_holds_the_unproven_queries():
    # registry order is load-bearing: the driver records only the first 50
    # SPARK_QUERIES entries, and those must be exactly DRIVER_WINDOW
    assert len(DRIVER_WINDOW) == 50
    assert list(SPARK_QUERIES)[:50] == list(DRIVER_WINDOW)


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert set(e.oracle_sql()) <= set(e.queries())
