"""Seeded input generators for the benchmark.

Everything the engine sees is made here from ``--seed``: fabricated file
inventories (with per-file column stats), the TPC-H-shaped query tables,
and the keyed ``orders`` rows the upsert workload writes. The same seed
gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: schema of the fabricated sync tables: ``k`` is the key, ``p`` the
#: partition column, ``v`` a nullable payload
SYNC_COLUMNS = (("k", "long"), ("p", "int"), ("v", "double"))


def sync_schema():
    from pyspark.sql import types as T

    kinds = {"long": T.LongType(), "int": T.IntegerType(), "double": T.DoubleType()}
    return T.StructType([T.StructField(n, kinds[t]) for n, t in SYNC_COLUMNS])


def sync_table(root: str, fmt: str, name: str):
    """Table descriptor of a fabricated sync table, partitioned on ``p``."""
    from onetable_spark.model import (
        DataLayoutStrategy,
        PartitionField,
        Table,
        TableFormat,
    )

    return Table(
        name=name,
        base_path=root,
        table_format=TableFormat(fmt),
        read_schema=sync_schema(),
        partition_fields=(PartitionField("p"),),
        layout=DataLayoutStrategy.HIVE_STYLE_PARTITION,
    )


def inventory(spark, root: str, seed: int, files: int, partitions: int, batch: int = 0):
    """``files`` fabricated parquet entries (FILES_SCHEMA) under ``root``.

    Entry ``i`` of batch ``b`` lives in partition ``i % partitions`` and
    holds a disjoint key range, so every file carries exact min/max/null
    stats on ``k`` and ``p`` (and a null count on ``v``). Sizes and row
    counts vary per file from ``seed``. The files themselves are never
    written: the sync plane reads only metadata, and with stats supplied
    no reader falls back to footer reads.
    """
    from pyspark.sql import functions as F

    from onetable_spark.model import FILES_SCHEMA

    h = F.abs(F.xxhash64(F.col("id"), F.lit(seed), F.lit(batch)))
    rows = (F.lit(500) + h % 1000).cast("long")
    part = (F.col("id") % partitions).cast("string")
    kmin = F.lit(batch) * (1 << 40) + F.col("id") * 2000
    nulls = (h % 7).cast("long")

    def stat(field, lo, hi, n_nulls):
        return F.struct(
            F.lit(field).alias("field"),
            lo.cast("string").alias("min_value"),
            hi.cast("string").alias("max_value"),
            n_nulls.alias("num_nulls"),
            rows.alias("num_values"),
            (rows * 8).alias("total_size"),
        )

    df = spark.range(files).select(
        F.concat(
            F.lit(f"{root}/p="), part, F.lit(f"/b{batch}-"), F.col("id").cast("string"),
            F.lit(".parquet"),
        ).alias("path"),
        F.lit("parquet").alias("file_format"),
        F.create_map(F.lit("p"), part).alias("partition_values"),
        (F.lit(1 << 20) + h % (1 << 19)).alias("size"),
        rows.alias("record_count"),
        (F.lit(1_700_000_000_000) + F.lit(batch) * 1000).alias("last_modified_millis"),
        F.array(
            stat("k", kmin, kmin + rows - 1, F.lit(0).cast("long")),
            stat("p", part, part, F.lit(0).cast("long")),
            F.struct(
                F.lit("v").alias("field"),
                F.lit(None).cast("string").alias("min_value"),
                F.lit(None).cast("string").alias("max_value"),
                nulls.alias("num_nulls"),
                rows.alias("num_values"),
                (rows * 8).alias("total_size"),
            ),
        ).alias("column_stats"),
    )
    return df.select(*[F.col(f.name).cast(f.dataType).alias(f.name) for f in FILES_SCHEMA.fields])


# ----------------------------------------------------------- query tables

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["small", "red", "blue", "hot", "cold", "green", "big", "old"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_EPOCH = np.datetime64("1995-01-01", "D")


def _days(rng, n, lo_days, span):
    return (_EPOCH + rng.integers(lo_days, lo_days + span, n)).astype("datetime64[us]")


def query_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema plus ``events`` and ``embeddings``.

    Same column names, types and value domains as the fixture tables the
    declared queries were written against; row counts scale with ``sf``
    (lineitem ≈ 6M·sf rows).
    """
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_emb = int(1_000_000 * sf), int(50_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, 0, 2400),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _days(rng, n_li, 1, 2500),
    })
    ev_ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(
            np.datetime64("2024-01-01T00:00:00", "us") + ev_ts.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": rng.integers(0, max(n_ev // 66, 10), n_ev),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.uniform(0.01, 490, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    emb = rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


def write_query_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# ------------------------------------------------------------ upsert rows

#: the row workload's schema. ``o_orderdate`` is an ISO string, not a
#: date: Hudi's avro log writer cannot encode date/timestamp values yet
#: (see README.md), and all three formats carry the same rows.
ORDERS_SCHEMA = pa.schema([
    ("o_orderkey", pa.int64()),
    ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()),
    ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.string()),
    ("o_orderpriority", pa.string()),
    ("o_version", pa.int64()),
])


def orders_rows(rng, keys: np.ndarray, version: int) -> pa.Table:
    n = len(keys)
    dates = (_EPOCH + rng.integers(0, 2400, n)).astype("datetime64[D]").astype(str)
    return pa.table({
        "o_orderkey": keys.astype(np.int64),
        "o_custkey": rng.integers(0, 150_000, n),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": dates,
        "o_orderpriority": rng.choice(_PRIORITIES, n),
        "o_version": np.full(n, version, dtype=np.int64),
    }, schema=ORDERS_SCHEMA)


def upsert_plan(seed: int, base_rows: int, batches: int, batch_keys: int, insert_share: float):
    """Key sets for the row workload: the base load, then ``batches``
    upsert batches. Each batch updates ``batch_keys·(1-insert_share)``
    existing keys and inserts the rest as new keys. Key sets are DISJOINT
    across batches — no key is upserted twice (see README.md, Iceberg
    changelog defect)."""
    rng = np.random.default_rng(seed)
    base = np.arange(base_rows, dtype=np.int64)
    upd_per = int(batch_keys * (1 - insert_share))
    if upd_per * batches > base_rows:
        raise ValueError(f"{batches} batches of {upd_per} updates need more than {base_rows} rows")
    pool = rng.permutation(base)[: upd_per * batches]
    plan = []
    next_key = base_rows
    for b in range(batches):
        upd = np.sort(pool[b * upd_per:(b + 1) * upd_per])
        ins = np.arange(next_key, next_key + batch_keys - upd_per, dtype=np.int64)
        next_key += len(ins)
        plan.append((upd, ins))
    return base, plan
