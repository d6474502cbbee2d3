"""Delta Change Data Feed (r13): cdc-file authoring on CDF-enabled
upserts + the change_feed reader (PROTOCOL.md "Add CDC File",
delta-spark's delta.enableChangeDataFeed).
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from onetable_spark.formats.delta import DeltaLog
from onetable_spark.model import Table, TableFormat
from onetable_spark.sources.parquet_inventory import build_inventory


def _write_file(spark, df, path):
    tmp = path + ".stage"
    df.coalesce(1).write.parquet(tmp)
    part = next(
        f for f in os.listdir(tmp) if f.endswith(".parquet") and not f.startswith(".")
    )
    os.replace(os.path.join(tmp, part), path)
    import shutil

    shutil.rmtree(tmp)


@pytest.fixture()
def cdf_table(spark, tmp_path):
    base = str(tmp_path / "cdf")
    os.makedirs(base)
    df = spark.createDataFrame(
        [(i, f"name{i}", i * 10) for i in range(8)], "id long, name string, score long"
    )
    _write_file(spark, df, os.path.join(base, "f1.parquet"))
    log = DeltaLog(spark, base)
    log.init_table(
        Table(name="t", base_path=base, table_format=TableFormat.DELTA,
              read_schema=df.schema),
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    log.commit(adds=build_inventory(spark, [os.path.join(base, "f1.parquet")], root=base))
    return base, log, df


def test_upsert_writes_row_level_cdc_files(spark, cdf_table):
    base, log, df = cdf_table
    batch = spark.createDataFrame(
        [(2, "name2_v2", 999), (5, "name5_v2", 888), (100, "fresh", 1)],
        "id long, name string, score long",
    )
    _write_file(spark, batch, os.path.join(base, "f2.parquet"))
    v = log.upsert_by_key(
        build_inventory(spark, [os.path.join(base, "f2.parquet")], root=base),
        key_fields=["id"],
    )
    # cdc actions landed in the commit, files landed under _change_data/
    with open(os.path.join(base, "_delta_log", f"{v:020d}.json")) as f:
        actions = [json.loads(line) for line in f]
    cdc = [a["cdc"] for a in actions if "cdc" in a]
    assert cdc and all(c["path"].startswith("_change_data/") for c in cdc)
    assert all(c["dataChange"] is False for c in cdc)
    assert all(os.path.getsize(os.path.join(base, c["path"])) == c["size"] for c in cdc)
    # protocol now advertises the writer feature (reader version untouched)
    proto = log.snapshot_info().protocol
    assert "changeDataFeed" in (proto.get("writerFeatures") or [])

    feed = log.change_feed(v, v)
    rows = {
        (r["_change_type"], r["id"], r["name"], r["score"])
        for r in feed.collect()
    }
    assert rows == {
        ("update_preimage", 2, "name2", 20),
        ("update_preimage", 5, "name5", 50),
        ("update_postimage", 2, "name2_v2", 999),
        ("update_postimage", 5, "name5_v2", 888),
        ("insert", 100, "fresh", 1),
    }
    # the table state itself is the normal upsert result
    state = {
        (r["id"], r["name"]) for r in log.read_table().select("id", "name").collect()
    } if hasattr(log, "read_table") else None


def test_upsert_change_feed_keeps_a_user_column_named_like_the_marker(spark, tmp_path):
    """The postimage/insert classifier tags matched keys with a marker
    column; a user column of the same name (``_m``, as key and as
    payload) must come through the change feed intact."""
    base = str(tmp_path / "cdf_m")
    os.makedirs(base)
    schema = "_m long, name string, __m long"
    df = spark.createDataFrame([(i, f"name{i}", i * 10) for i in range(4)], schema)
    _write_file(spark, df, os.path.join(base, "f1.parquet"))
    log = DeltaLog(spark, base)
    log.init_table(
        Table(name="t", base_path=base, table_format=TableFormat.DELTA,
              read_schema=df.schema),
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    log.commit(adds=build_inventory(spark, [os.path.join(base, "f1.parquet")], root=base))
    batch = spark.createDataFrame([(2, "name2_v2", 999), (100, "fresh", 1)], schema)
    _write_file(spark, batch, os.path.join(base, "f2.parquet"))
    v = log.upsert_by_key(
        build_inventory(spark, [os.path.join(base, "f2.parquet")], root=base),
        key_fields=["_m"],
    )
    rows = {
        (r["_change_type"], r["_m"], r["name"], r["__m"])
        for r in log.change_feed(v, v).collect()
    }
    assert rows == {
        ("update_preimage", 2, "name2", 20),
        ("update_postimage", 2, "name2_v2", 999),
        ("insert", 100, "fresh", 1),
    }


def test_change_feed_fallbacks_and_mixed_derivation(spark, cdf_table):
    base, log, df = cdf_table
    # v1 (add-only, no cdc): derives as file-level inserts
    feed = log.change_feed(1, 1)
    assert feed.where("_change_type = 'insert'").count() == 8
    assert feed.select("_commit_version").distinct().collect()[0][0] == 1

    # remove-only commit derives as deletes
    victim = log.snapshot_files().select("path").limit(1)
    v2 = log.commit(removes=victim)
    feed2 = log.change_feed(v2, v2)
    assert set(r["_change_type"] for r in feed2.collect()) == {"delete"}
    assert feed2.count() == 8  # the whole removed file's rows

    # dataChange=false commits contribute nothing
    _write_file(
        spark,
        spark.createDataFrame([(50, "x", 0)], "id long, name string, score long"),
        os.path.join(base, "f3.parquet"),
    )
    v3 = log.commit(
        adds=build_inventory(spark, [os.path.join(base, "f3.parquet")], root=base),
        operation="OPTIMIZE",
        data_change=False,
    )
    assert log.change_feed(v3, v3).count() == 0

    # mixed add+remove without cdc derives BOTH legs (r14 — delta-spark
    # CDCReader parity for the INSERT OVERWRITE shape; r13 refused here)
    _write_file(
        spark,
        spark.createDataFrame([(51, "y", 0)], "id long, name string, score long"),
        os.path.join(base, "f4.parquet"),
    )
    v4 = log.commit(
        adds=build_inventory(spark, [os.path.join(base, "f4.parquet")], root=base),
        removes=log.snapshot_files().select("path").limit(1),
    )
    feed4 = log.change_feed(v4, v4)
    assert {
        (r["_change_type"], r["id"], r["name"]) for r in feed4.collect()
    } == {("insert", 51, "y"), ("delete", 50, "x")}


def test_change_feed_timestamp_bounds(spark, cdf_table):
    """delta-spark startingTimestamp/endingTimestamp parity: bounds
    resolve on IN-COMMIT timestamps — from = earliest commit at-or-after,
    to = latest at-or-before; past-the-end from-bounds yield empty."""
    base, log, df = cdf_table
    _write_file(
        spark,
        spark.createDataFrame([(60, "z", 0)], "id long, name string, score long"),
        os.path.join(base, "f6.parquet"),
    )
    v2 = log.commit(
        adds=build_inventory(spark, [os.path.join(base, "f6.parquet")], root=base)
    )
    t1, t2 = log.commit_timestamp(1), log.commit_timestamp(v2)
    # from t1 → both commits; from just-after t1 → only v2 (earliest
    # at-or-after); from after t2 → empty
    assert log.change_feed(from_timestamp_millis=t1).count() == 9
    got = log.change_feed(from_timestamp_millis=t1 + 1)
    if t2 > t1:  # wall clock may give both commits the same millisecond
        assert {r["id"] for r in got.collect()} == {60}
    assert log.change_feed(from_timestamp_millis=t2 + 1).count() == 0
    # to-bound: latest at-or-before t1 keeps only v1's inserts
    if t2 > t1:
        assert (
            log.change_feed(from_version=1, to_timestamp_millis=t1).count() == 8
        )
    with pytest.raises(ValueError, match="mutually exclusive"):
        log.change_feed(from_version=1, from_timestamp_millis=t1)
    with pytest.raises(ValueError, match="needs from_version"):
        log.change_feed()


def test_dead_positions_do_not_produce_preimages(spark, cdf_table):
    """A key whose row is already DV-dead has no preimage — its new row
    is a plain insert, not an update."""
    base, log, df = cdf_table
    # kill id=3 with a DV first
    target = log.snapshot_files().select("path").collect()[0]["path"]
    import pyarrow.parquet as pq

    ids = pq.read_table(target, columns=["id"])["id"].to_pylist()
    pos = ids.index(3)
    log.commit(
        adds=build_inventory(spark, [target], root=base),
        deletion_vectors=spark.createDataFrame([(target, pos)], "path string, pos long"),
    )
    batch = spark.createDataFrame(
        [(3, "resurrected", 7)], "id long, name string, score long"
    )
    _write_file(spark, batch, os.path.join(base, "f5.parquet"))
    v = log.upsert_by_key(
        build_inventory(spark, [os.path.join(base, "f5.parquet")], root=base),
        key_fields=["id"],
    )
    feed = log.change_feed(v, v)
    rows = {(r["_change_type"], r["id"]) for r in feed.collect()}
    assert rows == {("insert", 3)}


@pytest.fixture()
def part_cdf_table(spark, tmp_path):
    """Hive-PARTITIONED CDF table: partition column `part` lives in the
    directory layout + action partitionValues, never in the parquet bytes."""
    import pyspark.sql.types as T

    from onetable_spark.model import PartitionField

    base = str(tmp_path / "pcdf")
    os.makedirs(os.path.join(base, "part=A"))
    os.makedirs(os.path.join(base, "part=B"))
    dfa = spark.createDataFrame(
        [(i, f"name{i}") for i in range(4)], "id long, name string"
    )
    dfb = spark.createDataFrame(
        [(i, f"name{i}") for i in range(4, 8)], "id long, name string"
    )
    fa = os.path.join(base, "part=A", "fa.parquet")
    fb = os.path.join(base, "part=B", "fb.parquet")
    _write_file(spark, dfa, fa)
    _write_file(spark, dfb, fb)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("part", T.StringType()),
        ]
    )
    log = DeltaLog(spark, base)
    log.init_table(
        Table(
            name="p", base_path=base, table_format=TableFormat.DELTA,
            read_schema=schema,
            partition_fields=(PartitionField(source_field="part"),),
        ),
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    log.commit(adds=build_inventory(spark, [fa, fb], root=base))
    return base, log


def test_partitioned_change_feed_derives_partition_columns(spark, part_cdf_table):
    """v1's derived inserts must carry the REAL partition values (ADVICE
    r13: the rows previously read straight off the parquet bytes and
    emitted NULL for every partition column)."""
    base, log = part_cdf_table
    feed = log.change_feed(1, 1)
    rows = {(r["id"], r["part"]) for r in feed.collect()}
    assert rows == {(i, "A") for i in range(4)} | {(i, "B") for i in range(4, 8)}
    assert feed.where(F.col("part").isNull()).count() == 0


def test_partitioned_upsert_cdc_rows_and_actions(spark, part_cdf_table):
    """A cross-partition upsert: the preimage keeps its OLD partition,
    the postimage lands in the new file's partition, and every cdc action
    is stamped with its file's real partitionValues."""
    base, log = part_cdf_table
    # new batch lands in part=A but updates id=5 (lives in part=B)
    batch = spark.createDataFrame(
        [(5, "name5_v2"), (100, "fresh")], "id long, name string"
    )
    f2 = os.path.join(base, "part=A", "f2.parquet")
    _write_file(spark, batch, f2)
    v = log.upsert_by_key(build_inventory(spark, [f2], root=base), key_fields=["id"])

    feed = log.change_feed(v, v)
    rows = {(r["_change_type"], r["id"], r["name"], r["part"]) for r in feed.collect()}
    assert rows == {
        ("update_preimage", 5, "name5", "B"),
        ("update_postimage", 5, "name5_v2", "A"),
        ("insert", 100, "fresh", "A"),
    }
    # cdc actions: real per-partition partitionValues, one file per combo
    with open(os.path.join(base, "_delta_log", f"{v:020d}.json")) as f:
        actions = [json.loads(line) for line in f]
    cdc = [a["cdc"] for a in actions if "cdc" in a]
    assert {tuple(sorted(c["partitionValues"].items())) for c in cdc} == {
        (("part", "A"),),
        (("part", "B"),),
    }


def test_partitioned_dv_delete_and_remove_derivation(spark, part_cdf_table):
    """'delete' cdc rows from a direct DV commit carry the dead file's
    partition; a remove-only commit's derived deletes recover the values
    from the parent snapshot (removes carry no partitionValues)."""
    base, log = part_cdf_table
    target = os.path.join(base, "part=B", "fb.parquet")
    import pyarrow.parquet as pq

    ids = pq.read_table(target, columns=["id"])["id"].to_pylist()
    v = log.commit(
        adds=build_inventory(spark, [target], root=base),
        deletion_vectors=spark.createDataFrame(
            [(target, ids.index(6))], "path string, pos long"
        ),
    )
    rows = {(r["_change_type"], r["id"], r["part"])
            for r in log.change_feed(v, v).collect()}
    assert rows == {("delete", 6, "B")}

    # remove-only commit: pv recovered from the parent snapshot
    fa = os.path.join(base, "part=A", "fa.parquet")
    v2 = log.commit(
        removes=spark.createDataFrame([(fa,)], "path string")
    )
    rows2 = {(r["_change_type"], r["id"], r["part"])
             for r in log.change_feed(v2, v2).collect()}
    assert rows2 == {("delete", i, "A") for i in range(4)}


def test_upsert_key_on_partition_column_refuses(spark, part_cdf_table):
    base, log = part_cdf_table
    batch = spark.createDataFrame([(1, "x")], "id long, name string")
    f2 = os.path.join(base, "part=A", "f9.parquet")
    _write_file(spark, batch, f2)
    with pytest.raises(ValueError, match="partition column"):
        log.upsert_by_key(build_inventory(spark, [f2], root=base), key_fields=["part"])


def test_direct_dv_commit_authors_delete_cdc(spark, cdf_table):
    """A plain deletion-vector commit on a CDF table (the cross-format
    delete-translation shape) authors its own 'delete' cdc rows, so the
    remove+add-same-path commit stays change_feed-derivable."""
    base, log, df = cdf_table
    target = log.snapshot_files().collect()[0]["path"]
    import pyarrow.parquet as pq

    ids = pq.read_table(target, columns=["id"])["id"].to_pylist()
    positions = spark.createDataFrame(
        [(target, ids.index(1)), (target, ids.index(6))], "path string, pos long"
    )
    v = log.commit(
        adds=build_inventory(spark, [target], root=base),
        deletion_vectors=positions,
    )
    feed = log.change_feed(v, v)
    rows = {(r["_change_type"], r["id"], r["name"]) for r in feed.collect()}
    assert rows == {("delete", 1, "name1"), ("delete", 6, "name6")}

    # re-deleting the SAME positions (plus none new) is a logical no-op:
    # the commit carries an EMPTY cdc file and the feed serves 0 rows
    # instead of refusing the mixed add+remove shape
    v2 = log.commit(
        adds=build_inventory(spark, [target], root=base),
        deletion_vectors=positions,
    )
    assert log.change_feed(v2, v2).count() == 0
    with open(os.path.join(base, "_delta_log", f"{v2:020d}.json")) as f:
        actions = [json.loads(line) for line in f]
    assert any("cdc" in a for a in actions)


def test_removes_author_partition_values_dir_hierarchy(spark, tmp_path):
    """PROTOCOL.md "Remove File" (r15): removes carry the dropped file's
    partitionValues, so derived CDF deletes recover partition columns on
    a DIR_HIERARCHY layout (bare value dirs) where the old hive-path
    heuristic could never work — and without the per-version parent
    snapshot lookup."""
    import pyspark.sql.types as T

    from onetable_spark.model import DataLayoutStrategy, PartitionField

    base = str(tmp_path / "dircdf")
    os.makedirs(os.path.join(base, "A"))
    os.makedirs(os.path.join(base, "B"))
    dfa = spark.createDataFrame(
        [(i, f"name{i}") for i in range(4)], "id long, name string"
    )
    dfb = spark.createDataFrame(
        [(i, f"name{i}") for i in range(4, 8)], "id long, name string"
    )
    fa = os.path.join(base, "A", "fa.parquet")
    fb = os.path.join(base, "B", "fb.parquet")
    _write_file(spark, dfa, fa)
    _write_file(spark, dfb, fb)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("part", T.StringType()),
        ]
    )
    log = DeltaLog(spark, base)
    log.init_table(
        Table(
            name="d", base_path=base, table_format=TableFormat.DELTA,
            read_schema=schema, layout=DataLayoutStrategy.DIR_HIERARCHY_PARTITION_VALUES,
            partition_fields=(PartitionField(source_field="part"),),
        ),
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    log.commit(
        adds=build_inventory(spark, [fa, fb], root=base, partition_cols=["part"])
    )
    # remove-only commit: the remove action itself must carry the map
    v = log.commit(removes=spark.createDataFrame([(fa,)], "path string"))
    with open(os.path.join(base, "_delta_log", f"{v:020d}.json")) as f:
        actions = [json.loads(line) for line in f]
    rm = next(a["remove"] for a in actions if "remove" in a)
    assert rm["partitionValues"] == {"part": "A"}

    # batch derivation reads the authored map (no parent-snapshot job)
    rows = {(r["_change_type"], r["id"], r["part"])
            for r in log.change_feed(v, v).collect()}
    assert rows == {("delete", i, "A") for i in range(4)}


def test_cdf_stream_derives_dir_hierarchy_removes(spark, tmp_path):
    """The streaming derived-CDF leg on a DIR_HIERARCHY table: delete
    rows carry real partition values straight off remove.partitionValues
    (the r14 hive-path fallback is gone)."""
    import pyspark.sql.types as T

    from onetable_spark.model import DataLayoutStrategy, PartitionField
    from onetable_spark.streaming.cdc import read_cdf_stream

    base = str(tmp_path / "dirstream")
    os.makedirs(os.path.join(base, "A"))
    dfa = spark.createDataFrame(
        [(i, f"name{i}") for i in range(3)], "id long, name string"
    )
    fa = os.path.join(base, "A", "fa.parquet")
    _write_file(spark, dfa, fa)
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("part", T.StringType()),
        ]
    )
    log = DeltaLog(spark, base)
    log.init_table(
        Table(
            name="d", base_path=base, table_format=TableFormat.DELTA,
            read_schema=schema, layout=DataLayoutStrategy.DIR_HIERARCHY_PARTITION_VALUES,
            partition_fields=(PartitionField(source_field="part"),),
        ),
        configuration={"delta.enableChangeDataFeed": "true"},
    )
    log.commit(
        adds=build_inventory(spark, [fa], root=base, partition_cols=["part"])
    )
    log.commit(removes=spark.createDataFrame([(fa,)], "path string"))

    q = (
        read_cdf_stream(spark, base)
        .writeStream.format("memory")
        .queryName("dirstream_cdf")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["_change_type"], r["id"], r["part"])
        for r in spark.sql("select * from dirstream_cdf").collect()
    }
    assert rows == {("insert", i, "A") for i in range(3)} | {
        ("delete", i, "A") for i in range(3)
    }
