"""Hudi supplemental CDC log (r14 — RFC-51 / hoodie.table.cdc.enabled):
upsert_records authors real before-image CDC_DATA blocks and cdc_feed
serves the CDCRelation.FULL_CDC_SPARK_SCHEMA shape back (op / ts_ms /
before / after JSON strings), exact where cdc files exist, inferred
elsewhere (BASE_FILE_INSERT etc.).
"""

from __future__ import annotations

import json
import os
import shutil

import pytest

from onetable_spark.formats.hudi import HudiTimeline, instant_to_millis
from onetable_spark.formats.hudi_log import read_log_blocks
from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
from onetable_spark.sources.parquet_inventory import build_inventory


@pytest.fixture()
def cdc_table(spark, tmp_path):
    base = str(tmp_path / "hcdc")
    os.makedirs(base)
    df = spark.createDataFrame(
        [(i, f"name{i}", i * 10) for i in range(6)],
        "id long, name string, score long",
    )
    stage = os.path.join(base, "_stage")
    df.coalesce(1).write.parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    f1 = os.path.join(base, "f1.parquet")
    os.replace(os.path.join(stage, part), f1)
    shutil.rmtree(stage)
    tl = HudiTimeline(spark, base)
    tl.init_table(
        Table(name="t", base_path=base, table_format=TableFormat.HUDI,
              read_schema=df.schema, layout=DataLayoutStrategy.FLAT,
              record_key_fields=("id",))
    )
    tl.commit(adds=build_inventory(spark, [f1], root=base), action="deltacommit")
    tl.set_table_properties({"hoodie.table.cdc.enabled": "true"})
    return base, tl


def _upsert(spark, tl):
    batch = spark.createDataFrame(
        [(2, "name2_v2", 999), (4, "name4_v2", 888), (50, "fresh", 1)],
        "id long, name string, score long",
    )
    return tl.upsert_records(batch)


def test_upsert_authors_cdc_block_with_before_images(spark, cdc_table):
    base, tl = cdc_table
    instant = _upsert(spark, tl)

    # the -cdc log file exists and is advertised in cdcStats
    cdc_files = [f for f in os.listdir(base) if f.endswith("-cdc")]
    assert len(cdc_files) == 1
    with open(os.path.join(tl.hoodie_path, f"{instant}.deltacommit")) as f:
        meta = json.load(f)
    stats = [s for pp in meta["partitionToWriteStats"].values() for s in pp]
    cdc_stats = [s for s in stats if s.get("cdcStats")]
    assert len(cdc_stats) == 1
    (rel, size), = cdc_stats[0]["cdcStats"].items()
    assert rel.endswith("-cdc")
    assert os.path.getsize(os.path.join(base, rel)) == size

    # the block is a CDC_DATA block carrying exact before/after images
    blocks = read_log_blocks(os.path.join(base, rel))
    assert [b["type"] for b in blocks] == ["cdc_data"]
    assert blocks[0]["headers"]["instant_time"] == instant
    from onetable_spark.formats.hudi_log import avro_block_records

    _, recs = avro_block_records(blocks[0], decode=True)
    got = {
        (r["op"], json.loads(r["before"])["id"], json.loads(r["before"])["name"],
         json.loads(r["after"])["name"], json.loads(r["after"])["score"])
        for r in recs
    }
    assert got == {
        ("u", 2, "name2", "name2_v2", 999),
        ("u", 4, "name4", "name4_v2", 888),
    }
    assert all(r["ts_ms"] == str(instant_to_millis(instant)) for r in recs)


def test_cdc_feed_exact_and_inferred_legs(spark, cdc_table):
    base, tl = cdc_table
    instant = _upsert(spark, tl)

    rows = tl.cdc_feed().collect()
    by_op = {}
    for r in rows:
        by_op.setdefault(r["op"], []).append(r)

    # 'u' rows come off the cdc block verbatim — exact before images
    ups = {
        (json.loads(r["before"])["name"], json.loads(r["after"])["name"])
        for r in by_op["u"]
    }
    assert ups == {("name2", "name2_v2"), ("name4", "name4_v2")}
    assert all(r["ts_ms"] == str(instant_to_millis(instant)) for r in by_op["u"])
    assert all(r["before"] and r["after"] for r in by_op["u"])

    # 'i' rows: the seed commit's 6 rows + the upsert's new file group —
    # BASE_FILE_INSERT inference, after image only
    ins = {json.loads(r["after"])["id"] for r in by_op["i"]}
    assert ins == {0, 1, 2, 3, 4, 5, 50}
    assert all(r["before"] is None for r in by_op["i"])
    assert set(by_op) == {"i", "u"}

    # range bounds: only the upsert instant
    feed2 = tl.cdc_feed(from_instant=sorted(
        i for i, _ in tl.completed_instants()
    )[0])
    assert {r["op"] for r in feed2.collect()} == {"u", "i"}
    assert len(feed2.collect()) == 3  # 2 updates + 1 insert


def test_second_update_before_image_reads_the_merged_slice(spark, cdc_table):
    """A key updated twice: the second change's before-image is the first
    change's after-image — the base row with its file group's earlier
    log block applied — not the stale base row."""
    base, tl = cdc_table
    schema = "id long, name string, score long"
    first = tl.upsert_records(spark.createDataFrame([(2, "v2", 20)], schema))
    tl.upsert_records(spark.createDataFrame([(2, "v3", 30)], schema))
    (u,) = tl.cdc_feed(from_instant=first).collect()
    assert u["op"] == "u"
    assert (json.loads(u["before"])["name"], json.loads(u["after"])["name"]) == ("v2", "v3")


def test_vacuum_counts_cdc_files_as_referenced(spark, cdc_table):
    """The cdc file lives in cdcStats, not the stat's path — the vacuum
    reference set must still include it (vacuum's LISTING excludes
    leading-dot files anyway, so log/cdc files are never candidates;
    this pins the reference-set side of that double protection)."""
    from onetable_spark.model import TableFormat
    from onetable_spark.operators.maintenance import referenced_paths

    base, tl = cdc_table
    _upsert(spark, tl)
    (cdc_file,) = [f for f in os.listdir(base) if f.endswith("-cdc")]
    refs = {r["path"] for r in referenced_paths(spark, TableFormat.HUDI, base).collect()}
    assert os.path.join(base, cdc_file) in refs


def test_cdc_feed_without_cdc_files_infers_after_only(spark, tmp_path):
    """A table that never enabled cdc still serves the feed via
    inference — 'u' rows carry after images only (the documented
    non-cdc limit)."""
    base = str(tmp_path / "nocdc")
    os.makedirs(base)
    df = spark.createDataFrame(
        [(i, f"n{i}") for i in range(4)], "id long, name string"
    )
    stage = os.path.join(base, "_stage")
    df.coalesce(1).write.parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.replace(os.path.join(stage, part), os.path.join(base, "f1.parquet"))
    shutil.rmtree(stage)
    tl = HudiTimeline(spark, base)
    tl.init_table(
        Table(name="t", base_path=base, table_format=TableFormat.HUDI,
              read_schema=df.schema, layout=DataLayoutStrategy.FLAT,
              record_key_fields=("id",))
    )
    tl.commit(
        adds=build_inventory(spark, [os.path.join(base, "f1.parquet")], root=base),
        action="deltacommit",
    )
    batch = spark.createDataFrame([(1, "n1_v2")], "id long, name string")
    tl.upsert_records(batch)
    assert not [f for f in os.listdir(base) if f.endswith("-cdc")]
    rows = tl.cdc_feed().collect()
    u = [r for r in rows if r["op"] == "u"]
    assert len(u) == 1 and u[0]["before"] is None
    assert json.loads(u[0]["after"])["name"] == "n1_v2"


def test_delete_logs_author_cdc_before_images(spark, cdc_table):
    """commit_delete_logs on a cdc-enabled table writes op='d' cdc
    records with FULL before images; cdc_feed serves them exactly
    (instead of the key-only inference non-cdc DELETE blocks get)."""
    base, tl = cdc_table
    target = os.path.join(base, "f1.parquet")
    import pyarrow.parquet as pq

    ids = pq.read_table(target, columns=["id"])["id"].to_pylist()
    positions = spark.createDataFrame(
        [(target, ids.index(1)), (target, ids.index(3))], "path string, pos long"
    )
    instant = tl.commit_delete_logs(positions)

    (cdc_file,) = [f for f in os.listdir(base) if f.endswith("-cdc")]
    from onetable_spark.formats.hudi_log import avro_block_records

    (block,) = read_log_blocks(os.path.join(base, cdc_file))
    assert block["type"] == "cdc_data"
    _, recs = avro_block_records(block, decode=True)
    got = {
        (r["op"], json.loads(r["before"])["id"], json.loads(r["before"])["name"])
        for r in recs
    }
    assert got == {("d", 1, "name1"), ("d", 3, "name3")}
    assert all(r["after"] is None for r in recs)

    dels = [r for r in tl.cdc_feed().collect() if r["op"] == "d"]
    assert {json.loads(r["before"])["id"] for r in dels} == {1, 3}
    assert all(
        r["after"] is None and r["ts_ms"] == str(instant_to_millis(instant))
        for r in dels
    )
    # the realtime view still nets the two rows (the DELETE block is
    # unchanged by the cdc supplement)
    rt = tl.snapshot_files(view="realtime")
    assert sum(r["record_count"] for r in rt.collect()) == 4


def test_cdc_mode_op_key_only(spark, tmp_path):
    base = str(tmp_path / "keyonly")
    os.makedirs(base)
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    stage = os.path.join(base, "_stage")
    df.coalesce(1).write.parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    os.replace(os.path.join(stage, part), os.path.join(base, "f1.parquet"))
    shutil.rmtree(stage)
    tl = HudiTimeline(spark, base)
    tl.init_table(
        Table(name="t", base_path=base, table_format=TableFormat.HUDI,
              read_schema=df.schema, layout=DataLayoutStrategy.FLAT,
              record_key_fields=("id",))
    )
    tl.commit(
        adds=build_inventory(spark, [os.path.join(base, "f1.parquet")], root=base),
        action="deltacommit",
    )
    tl.set_table_properties({
        "hoodie.table.cdc.enabled": "true",
        "hoodie.table.cdc.supplemental.logging.mode": "op_key_only",
    })
    tl.upsert_records(spark.createDataFrame([(2, "b2")], "id long, name string"))
    cdc_files = [f for f in os.listdir(base) if f.endswith("-cdc")]
    assert len(cdc_files) == 1
    from onetable_spark.formats.hudi_log import avro_block_records

    (block,) = read_log_blocks(os.path.join(base, cdc_files[0]))
    _, recs = avro_block_records(block, decode=True)
    assert recs == [{"op": "u", "record_key": "2"}]
    # the feed still serves the row (ts_ms falls back to instant millis)
    u = [r for r in tl.cdc_feed().collect() if r["op"] == "u"]
    assert len(u) == 1 and u[0]["before"] is None and u[0]["after"] is None
