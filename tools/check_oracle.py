"""Local replica of the driver's DuckDB-oracle correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` twin on
DuckDB at the given sf dir, then compares row count + (order-insensitive)
values with columns sorted by name. Stricter than a hash: prints the first
mismatching rows so parity bugs are debuggable.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb

from onetable_spark.session import TABLES, get_spark


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0 / float-repr noise the same way on both engines
        return f"{v:.9g}"
    return str(v)


def compare_result(sdf, sql: str, con) -> str | None:
    """Compare a Spark DataFrame against a DuckDB oracle query.

    Returns ``None`` on a full match (schema by sorted column name, row
    count, and order-insensitive normalized values — the same contract as
    the driver's hash gate), else a human-readable mismatch description.
    Used by both this CLI and tests/test_queries_smoke.py so value parity
    stays an automated pytest gate, not just a manual script.
    """
    srows = sdf.collect()
    scols = sorted(sdf.columns)
    spark_vals = sorted(tuple(norm(r[c]) for c in scols) for r in srows)
    rel = con.execute(sql)
    dcols_raw = [d[0] for d in rel.description]
    drows = rel.fetchall()
    dorder = sorted(range(len(dcols_raw)), key=lambda i: dcols_raw[i])
    dcols = [dcols_raw[i] for i in dorder]
    duck_vals = sorted(tuple(norm(r[i]) for i in dorder) for r in drows)
    if scols != dcols:
        return f"schema mismatch spark={scols} duckdb={dcols}"
    if len(spark_vals) != len(duck_vals):
        return f"rowcount spark={len(spark_vals)} duckdb={len(duck_vals)}"
    if spark_vals != duck_vals:
        diffs = [(a, b) for a, b in zip(spark_vals, duck_vals) if a != b]
        return f"{len(diffs)} differing rows; first: {diffs[:3]}"
    return None


def run(sf_dir: str, only: list[str]) -> int:
    import __spark_entry__ as entry

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")

    queries = entry.queries()
    oracles = entry.oracle_sql()
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        try:
            msg = compare_result(sdf, oracles[name], con)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: error: {e}")
            failures += 1
            continue
        if msg is not None:
            print(f"FAIL {name}: {msg}")
            failures += 1
            continue
        print(f"ok   {name}: match")
    print(f"\n{len(queries)} queries, {failures} failures")
    return failures


if __name__ == "__main__":
    args = sys.argv[1:]
    sf_dir = args[0] if args and "/" in args[0] else "/root/testdata/sf0.01"
    only = [a for a in args if "/" not in a]
    raise SystemExit(1 if run(sf_dir, only) else 0)
