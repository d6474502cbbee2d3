"""Round-trip tests for the native Hudi COW timeline."""

from __future__ import annotations

import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from onetable_spark.formats.hudi import (
    HudiTimeline,
    _file_id_for,
    instant_to_millis,
    millis_to_instant,
)
from onetable_spark.model import DataLayoutStrategy, Table, TableFormat, TableMetadata
from onetable_spark.sources.parquet_inventory import inventory_from_directory


def test_instant_roundtrip():
    millis = 1723500000123
    instant = millis_to_instant(millis)
    assert len(instant) == 17 and instant.isdigit()
    assert instant_to_millis(instant) == millis


@pytest.fixture()
def hudi_table(spark, sf_dir, tmp_path):
    table_path = str(tmp_path / "orders_hudi")
    os.makedirs(table_path)
    src = os.path.join(sf_dir, "orders.parquet")
    shutil.copy(src, os.path.join(table_path, "part-00000.parquet"))
    schema = spark.read.parquet(table_path).schema
    table = Table(
        name="orders",
        base_path=table_path,
        table_format=TableFormat.HUDI,
        read_schema=schema,
        record_key_fields=("o_orderkey",),
        layout=DataLayoutStrategy.FLAT,
    )
    return table_path, table


def test_init_commit_snapshot(spark, hudi_table):
    table_path, table = hudi_table
    tl = HudiTimeline(spark, table_path)
    tl.init_table(table)
    assert tl.exists()

    inv = inventory_from_directory(spark, table_path)
    instant = tl.commit(adds=inv, schema=table.read_schema)
    assert tl.latest_instant() == instant
    assert tl.pending_instants() == []

    snap = tl.current_snapshot()
    assert snap.table.table_format == TableFormat.HUDI
    assert snap.table.record_key_fields == ("o_orderkey",)
    # read-back schema matches structurally; metadata now additionally
    # carries IdTracker fieldIds for id-stable Hudi→Iceberg syncs
    assert [(f.name, f.dataType, f.nullable) for f in snap.table.read_schema.fields] == [
        (f.name, f.dataType, f.nullable) for f in table.read_schema.fields
    ]
    assert all("fieldId" in (f.metadata or {}) for f in snap.table.read_schema.fields)

    files = snap.files.collect()
    assert {f["path"] for f in files} == {r["path"] for r in inv.collect()}
    f0 = files[0]
    assert f0["record_count"] > 0 and f0["size"] > 0
    stats = {s["field"]: s for s in (f0["column_stats"] or [])}
    assert stats["o_orderkey"]["min_value"] is not None

    # data parity through the snapshot file list
    direct = spark.read.parquet(table_path)
    via = spark.read.parquet(*[f["path"] for f in files])
    assert via.exceptAll(direct).count() == 0 and via.count() == direct.count()


def test_replacecommit_and_changes(spark, hudi_table):
    table_path, table = hudi_table
    tl = HudiTimeline(spark, table_path)
    tl.init_table(table)
    inv = inventory_from_directory(spark, table_path)
    i1 = tl.commit(adds=inv)

    # replace the file group with a "clustered" copy
    clustered = os.path.join(table_path, "clustered-00000.parquet")
    shutil.copy(inv.first()["path"], clustered)
    from onetable_spark.sources.parquet_inventory import build_inventory

    new_inv = build_inventory(spark, [clustered], root=table_path)
    old_rel = os.path.basename(inv.first()["path"])
    i2 = tl.commit(adds=new_inv, replace_file_ids={"": [_file_id_for(old_rel)]})

    files = {r["path"] for r in tl.snapshot_files().collect()}
    assert files == {clustered}

    change = tl.changes_for_instant(i2)
    assert {r["path"] for r in change.diff.added.collect()} == {clustered}
    assert {r["path"] for r in change.diff.removed.collect()} == {
        os.path.join(table_path, old_rel)
    }
    change1 = tl.changes_for_instant(i1)
    assert change1.diff.removed.count() == 0

    # time travel: snapshot as of i1 still shows the original file
    assert {r["path"] for r in tl.snapshot_files(i1).collect()} == {
        os.path.join(table_path, old_rel)
    }


def test_rollback_excludes_commit(spark, hudi_table):
    table_path, table = hudi_table
    tl = HudiTimeline(spark, table_path)
    tl.init_table(table)
    inv = inventory_from_directory(spark, table_path)
    i1 = tl.commit(adds=inv)
    assert tl.snapshot_files().count() == 1
    tl.rollback(i1)
    assert tl.snapshot_files().count() == 0


def test_sync_metadata_and_backlog(spark, hudi_table):
    table_path, table = hudi_table
    tl = HudiTimeline(spark, table_path)
    tl.init_table(table)
    inv = inventory_from_directory(spark, table_path)
    meta = TableMetadata(999, (7,))
    i1 = tl.commit(adds=inv, extra_metadata=meta.to_props())
    assert tl.get_sync_metadata() == meta
    assert tl.instants_after_millis(0) == [i1]
    assert tl.instants_after_millis(instant_to_millis(i1)) == []
    assert tl.is_incremental_sync_safe_from(instant_to_millis(i1))
    assert not tl.is_incremental_sync_safe_from(0)


def test_archive_timeline(spark, hudi_table):
    table_path, table = hudi_table
    tl = HudiTimeline(spark, table_path)
    tl.init_table(table)
    for _ in range(5):
        tl.commit()
    archived = tl.archive_timeline(keep_latest=2)
    assert archived == 3
    assert len(tl.completed_instants()) == 2
    assert len(os.listdir(os.path.join(table_path, ".hoodie", "archived"))) == 3


def test_deltacommit_mor_base_file_semantics(spark, hudi_table):
    """S2 (MOR, r11 contract): deltacommit instants register base files
    like commits. Unmerged log appends make the DEFAULT snapshot REFUSE
    (never silently stale — the reference reads stale base files and says
    nothing, HudiDataFileExtractor.java:157); view='read_optimized'
    accepts the staleness explicitly, view='realtime' nets the log
    write-stats into the file group's record count."""
    import pytest

    from onetable_spark.formats.hudi import _file_id_for
    from onetable_spark.model import FILES_SCHEMA

    table_path, table = hudi_table
    tl = HudiTimeline(spark, table_path)
    tl.init_table(table)
    inv = inventory_from_directory(spark, table_path)
    i1 = tl.commit(adds=inv, action="deltacommit")
    assert tl.completed_instants() == [(i1, "deltacommit")]
    base_rows = {r["path"]: r["record_count"] for r in tl.snapshot_files().collect()}
    assert set(base_rows) == {r["path"] for r in inv.collect()}
    base_path, base_count = next(iter(base_rows.items()))

    # a MOR writer appends a log file to the SAME file group (the log name
    # embeds the group's fileId — HoodieLogFile naming)
    gid = _file_id_for(os.path.relpath(base_path, table_path))
    log_row = [
        (
            os.path.join(table_path, f".{gid}_0-0-1.log.1"),
            "hoodie_log",
            {},
            1024,
            10,
            None,
            None,
        )
    ]
    log_inv = spark.createDataFrame(log_row, FILES_SCHEMA)
    i2 = tl.commit(adds=log_inv, action="deltacommit")

    # default: loud refusal, not stale data
    with pytest.raises(ValueError, match="unmerged log"):
        tl.snapshot_files().collect()
    # explicit read-optimized: base file only, raw count (caller's choice)
    ro = {r["path"]: r["record_count"]
          for r in tl.snapshot_files(view="read_optimized").collect()}
    assert ro == base_rows
    # realtime: the log's 10 inserts net into the group's count; stats drop
    rt = {r["path"]: r for r in tl.snapshot_files(view="realtime").collect()}
    assert set(rt) == set(base_rows)
    assert rt[base_path]["record_count"] == base_count + 10
    assert rt[base_path]["column_stats"] in (None, [])
    # the realtime change for the log commit replaces the base descriptor
    change = tl.changes_for_instant(i2, view="realtime")
    assert {r["path"]: r["record_count"] for r in change.diff.added.collect()} == {
        base_path: base_count + 10
    }
    assert {r["path"] for r in change.diff.removed.collect()} == {base_path}

    # MOR source with unmerged logs → sync REFUSES (never stale targets)
    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.model import SyncStatus
    from onetable_spark.sync import SyncClient, source_for, target_for

    with pytest.raises(ValueError, match="unmerged log"):
        SyncClient(spark).sync(
            source_for(spark, TableFormat.HUDI, table_path),
            [target_for(spark, TableFormat.DELTA, table_path)],
        )

    # a compaction commit rewrites the base at a newer instant — the logs
    # are merged, every view agrees again, and sync succeeds
    compacted = inv.withColumn("record_count", F.col("record_count") + F.lit(10))
    tl.commit(adds=compacted, action="commit")
    merged = {r["path"]: r["record_count"] for r in tl.snapshot_files().collect()}
    assert merged[base_path] == base_count + 10
    assert merged == {
        r["path"]: r["record_count"]
        for r in tl.snapshot_files(view="realtime").collect()
    }
    res = SyncClient(spark).sync(
        source_for(spark, TableFormat.HUDI, table_path),
        [target_for(spark, TableFormat.DELTA, table_path)],
    )
    assert res[TableFormat.DELTA].status == SyncStatus.SUCCESS
    delta_rows = {
        r["path"]: r["record_count"]
        for r in DeltaLog(spark, table_path).snapshot_files().collect()
    }
    assert delta_rows == merged


def test_restore_undoes_later_commits(spark, hudi_table):
    """S2 (RESTORE): a restore event removes every commit after the target
    instant — surfaced as removals at the restore's own timeline position,
    with time travel before it intact."""
    import shutil as _sh

    table_path, table = hudi_table
    tl = HudiTimeline(spark, table_path)
    tl.init_table(table)
    inv = inventory_from_directory(spark, table_path)
    i1 = tl.commit(adds=inv)

    from onetable_spark.sources.parquet_inventory import build_inventory

    extra = os.path.join(table_path, "later-00000.parquet")
    _sh.copy(inv.first()["path"], extra)
    i2 = tl.commit(adds=build_inventory(spark, [extra], root=table_path))
    assert tl.snapshot_files().count() == 2

    ri = tl.restore(to_instant=i1)
    assert tl.snapshot_files().count() == 1
    assert tl.latest_instant() == i1
    # the restore is itself a syncable change carrying the removal
    assert ri in tl.instants_after_millis(instant_to_millis(i2))
    change = tl.changes_for_instant(ri)
    assert {r["path"] for r in change.diff.removed.collect()} == {extra}
    assert change.diff.added.count() == 0
    # time travel to before the restore still sees both files
    assert tl.snapshot_files(i2).count() == 2


def test_partition_spec_transform_roundtrip(spark, tmp_path):
    """C4 round-trip: a DAY-transformed partition field survives
    hoodie.properties via the path:type:format grammar."""
    from pyspark.sql import types as T

    from onetable_spark.model import PartitionField, PartitionTransform, Table, TableFormat

    path = str(tmp_path / "hspec")
    tl = HudiTimeline(spark, path)
    tl.init_table(
        Table(
            name="hspec",
            base_path=path,
            table_format=TableFormat.HUDI,
            read_schema=T.StructType([T.StructField("ts", T.TimestampType())]),
            partition_fields=(
                PartitionField("region"),
                PartitionField("ts", PartitionTransform.DAY),
            ),
        )
    )
    desc = HudiTimeline(spark, path).table_descriptor()
    assert [(p.source_field, p.transform) for p in desc.partition_fields] == [
        ("region", PartitionTransform.VALUE),
        ("ts", PartitionTransform.DAY),
    ]


def test_clean_replaced_file_groups(spark, hudi_table):
    """K10 (HudiTargetClient.java:414-546): file groups replaced before the
    retention horizon are marked cleaned via the clean instant lifecycle;
    groups replaced inside the horizon are retained."""
    import json
    import os

    table_path, table = hudi_table
    tl = HudiTimeline(spark, table_path)
    tl.init_table(table)
    inv = inventory_from_directory(spark, table_path)
    tl.commit(adds=inv, schema=table.read_schema)

    # replace every original file group with a "rewritten" registration
    first = inv.first()
    rel = first["path"][len(table_path.rstrip("/")) + 1 :]
    from onetable_spark.formats.hudi import _file_id_for

    replaced_ids = {"": [_file_id_for(rel)]}
    tl.commit(adds=inv.limit(0), replace_file_ids=replaced_ids)

    # horizon AFTER the replacecommit → the replaced group is cleanable
    future = tl.new_instant()
    cleaned_at = tl.clean(earliest_instant_to_retain=future)
    assert cleaned_at is not None
    assert rel in tl.cleaned_paths()
    meta = json.load(open(os.path.join(tl.hoodie_path, f"{cleaned_at}.clean")))
    assert meta["totalFilesDeleted"] == 1
    assert meta["earliestCommitToRetain"] == future
    # lifecycle markers consumed
    assert not os.path.exists(os.path.join(tl.hoodie_path, f"{cleaned_at}.clean.requested"))
    assert not os.path.exists(os.path.join(tl.hoodie_path, f"{cleaned_at}.clean.inflight"))

    # snapshot replay is unaffected (clean is bookkeeping, not an undo)
    assert tl.snapshot_files().count() == 0  # all groups replaced, none live

    # nothing replaced after the horizon → second clean is a no-op
    assert tl.clean(earliest_instant_to_retain="0") is None


def test_clean_retains_groups_inside_horizon(spark, hudi_table):
    table_path, table = hudi_table
    tl = HudiTimeline(spark, table_path)
    tl.init_table(table)
    inv = inventory_from_directory(spark, table_path)
    tl.commit(adds=inv, schema=table.read_schema)
    first = inv.first()
    rel = first["path"][len(table_path.rstrip("/")) + 1 :]
    from onetable_spark.formats.hudi import _file_id_for

    tl.commit(adds=inv.limit(0), replace_file_ids={"": [_file_id_for(rel)]})
    # horizon BEFORE the replacecommit → nothing to clean yet
    assert tl.clean(earliest_instant_to_retain="19700101000000000") is None
    assert tl.cleaned_paths() == set()


def test_evolved_schema_read_from_latest_commit(spark, hudi_table):
    """TableSchemaResolver parity: after a schema-evolving commit, the
    descriptor reflects the LATEST commit's schemaString, not the create
    schema pinned in hoodie.properties — with field ids stable across the
    evolution (IdTracker previousSchema threading)."""
    from pyspark.sql import types as T

    table_path, table = hudi_table
    tl = HudiTimeline(spark, table_path)
    tl.init_table(table)
    inv = inventory_from_directory(spark, table_path)
    tl.commit(adds=inv, schema=table.read_schema)
    ids_before = {
        f.name: f.metadata["fieldId"] for f in tl.table_descriptor().read_schema.fields
    }

    evolved = T.StructType(
        list(table.read_schema.fields) + [T.StructField("o_new_col", T.StringType(), True)]
    )
    tl.commit(schema=evolved)
    desc = tl.table_descriptor()
    assert "o_new_col" in desc.read_schema.fieldNames()
    ids_after = {f.name: f.metadata["fieldId"] for f in desc.read_schema.fields}
    for name, fid in ids_before.items():
        assert ids_after[name] == fid  # retained fields keep their ids
    assert ids_after["o_new_col"] == max(ids_before.values()) + 1


def test_successive_evolutions_never_recycle_ids(spark, hudi_table):
    from pyspark.sql import types as T

    table_path, table = hudi_table
    tl = HudiTimeline(spark, table_path)
    tl.init_table(table)
    tl.commit(schema=table.read_schema)
    s2 = T.StructType(list(table.read_schema.fields) + [T.StructField("c1", T.LongType(), True)])
    tl.commit(schema=s2)
    s3 = T.StructType(list(s2.fields) + [T.StructField("c2", T.LongType(), True)])
    tl.commit(schema=s3)
    ids = {f.name: f.metadata["fieldId"] for f in tl.table_descriptor().read_schema.fields}
    assert ids["c2"] != ids["c1"]  # second evolution saw the first's ids
    assert len(set(ids.values())) == len(ids)


def test_savepoint_and_clean_instants_are_source_noops(spark, hudi_table):
    """Reference parity (HudiClient.java:112-126): SAVEPOINT and CLEAN
    actions on the timeline are no-ops for the source read path — the
    live file set, completed-commit list, and per-commit changes must be
    identical before and after they appear."""
    import json as _json

    table_path, table = hudi_table
    tl = HudiTimeline(spark, table_path)
    tl.init_table(table)
    inv = inventory_from_directory(spark, table_path)
    c1 = tl.commit(adds=inv, schema=table.read_schema)

    before_files = sorted(r["path"] for r in tl.snapshot_files().collect())
    before_instants = tl.completed_instants()

    # drop completed savepoint + clean instants onto the timeline (shapes
    # real Hudi writes: savepoint has requested/inflight/completed; clean
    # carries a JSON payload)
    sp = str(int(c1) + 1).ljust(len(c1), "0")
    for suffix in (".savepoint.requested", ".savepoint.inflight", ".savepoint"):
        with open(os.path.join(table_path, ".hoodie", sp + suffix), "w") as f:
            f.write("{}")
    cl = str(int(c1) + 2).ljust(len(c1), "0")
    with open(os.path.join(table_path, ".hoodie", cl + ".clean"), "w") as f:
        _json.dump({"earliestCommitToRetain": c1, "pathsDeleted": []}, f)

    tl2 = HudiTimeline(spark, table_path)
    assert sorted(r["path"] for r in tl2.snapshot_files().collect()) == before_files
    assert tl2.completed_instants() == before_instants
    assert tl2.latest_instant() == c1
    # per-commit diff unaffected
    change = tl2.changes_for_instant(c1)
    assert change.diff.added.count() == inv.count()
    # and a sync over the timeline still succeeds
    from onetable_spark.model import TableFormat as TF
    from onetable_spark.sync import SyncClient, source_for, target_for

    res = SyncClient(spark).sync(
        source_for(spark, TF.HUDI, table_path),
        [target_for(spark, TF.DELTA, table_path)],
    )
    assert all(r.status.value == "SUCCESS" for r in res.values()), res


def test_unsupported_table_version_refused(spark, hudi_table):
    """Hudi 1.0 (hoodie.table.version 8) renames completed instants into
    .hoodie/timeline/, so the 0.x reader would see ZERO instants and
    report a healthy-looking empty table — refuse loudly instead."""
    import pytest as _pytest

    table_path, table = hudi_table
    tl = HudiTimeline(spark, table_path)
    tl.init_table(table)
    props = os.path.join(table_path, ".hoodie", "hoodie.properties")
    content = open(props).read().replace(
        "hoodie.table.version=6", "hoodie.table.version=8"
    )
    open(props, "w").write(content)
    fresh = HudiTimeline(spark, table_path)
    with _pytest.raises(ValueError, match="hoodie.table.version 8"):
        fresh.completed_instants()


def test_mor_realtime_sync_materializes_via_compaction(spark, hudi_table):
    """r12 contract (replaces the r11 netted-counts opt-in): a
    view='realtime' SYNC source refuses while unmerged logs exist — the
    netted counts are honest to a realtime reader but a target engine
    scanning base parquet cannot reproduce them, so the target's data
    plane would silently disagree with its stats plane.
    HudiTimeline.compact_file_groups() MATERIALIZES the log blocks
    (AVRO_DATA upserts + DELETE blocks, instant order) into a new base
    file per group; afterwards every view agrees, sync succeeds, and the
    target's read-back rows equal its synced counts
    (checkDatasetEquivalence, ITOneTableClient.java:716-813)."""
    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.hudi import _file_id_for
    from onetable_spark.formats.hudi_log import write_avro_log_block
    from onetable_spark.model import FILES_SCHEMA, SyncStatus
    from onetable_spark.sync import SyncClient, source_for, target_for

    table_path, table = hudi_table
    tl = HudiTimeline(spark, table_path)
    tl.init_table(table)
    inv = inventory_from_directory(spark, table_path)
    i1 = tl.commit(adds=inv, action="deltacommit")
    base_path, base_count = next(
        (r["path"], r["record_count"])
        for r in tl.snapshot_files(view="read_optimized").collect()
    )
    rel = os.path.relpath(base_path, table_path)
    gid = _file_id_for(rel)

    # REAL log bytes: an AVRO_DATA block inserting 3 new keys (subset
    # schema — compaction aligns missing columns to null)
    log_path = os.path.join(table_path, f".{gid}_{i1}.log.1_0-0-0")
    sch = {"type": "record", "name": "r",
           "fields": [{"name": "o_orderkey", "type": "long"}]}
    write_avro_log_block(
        log_path, [{"o_orderkey": -1}, {"o_orderkey": -2}, {"o_orderkey": -3}],
        sch, "20240101000000000",
    )
    log_inv = spark.createDataFrame(
        [(log_path, "hoodie_log", {}, os.path.getsize(log_path), 3, None, None)],
        FILES_SCHEMA,
    )
    tl.commit(adds=log_inv, action="deltacommit")
    # plus a DELETE block killing the base file's first two keys
    import pyarrow.parquet as pq

    first_keys = pq.read_table(base_path, columns=["o_orderkey"])[
        "o_orderkey"
    ].to_pylist()[:2]
    tl.commit_delete_logs(
        spark.createDataFrame(
            [(base_path, 0), (base_path, 1)], "path string, pos long"
        )
    )
    rt = {r["path"]: r["record_count"]
          for r in tl.snapshot_files(view="realtime").collect()}
    assert rt == {base_path: base_count + 3 - 2}

    # realtime SYNC refuses — netted counts are not target-scannable
    with pytest.raises(ValueError, match="compact_file_groups"):
        SyncClient(spark).sync(
            source_for(spark, TableFormat.HUDI, table_path, view="realtime"),
            [target_for(spark, TableFormat.DELTA, table_path)],
        )

    # materialize: one new base file per group, logs merged byte-for-row
    instant = tl.compact_file_groups()
    assert instant is not None
    merged = {r["path"]: r["record_count"] for r in tl.snapshot_files().collect()}
    new_path = next(iter(merged))
    assert new_path != base_path and f"{gid}_0-0-0_{instant}" in new_path
    assert merged[new_path] == base_count + 1
    # idempotent: nothing left to merge
    assert tl.compact_file_groups() is None

    # data plane == stats plane: the merged parquet holds exactly the
    # upserted keys minus the deleted ones
    rows = spark.read.parquet(new_path)
    assert rows.count() == base_count + 1
    keys = {r["o_orderkey"] for r in rows.select("o_orderkey").collect()}
    assert {-1, -2, -3} <= keys
    assert not (set(first_keys) & keys)

    # realtime sync now SUCCEEDS and the Delta target's descriptor count
    # matches what a Delta engine scanning the file would count
    res = SyncClient(spark).sync(
        source_for(spark, TableFormat.HUDI, table_path, view="realtime"),
        [target_for(spark, TableFormat.DELTA, table_path)],
    )
    assert res[TableFormat.DELTA].status == SyncStatus.SUCCESS
    got = {
        r["path"]: r["record_count"]
        for r in DeltaLog(spark, table_path).snapshot_files().collect()
    }
    assert got == {new_path: base_count + 1}
    assert spark.read.parquet(new_path).count() == got[new_path]


def test_upsert_records_logs_updates_and_bases_inserts(spark, sf_dir, tmp_path):
    """r12 Hudi MOR keyed upsert: records with existing keys become one
    AVRO_DATA log block on their file group (updates net ZERO in the
    realtime view — the stat carries numUpdateWrites), records with new
    keys land in a fresh base file group, both in ONE deltacommit; the
    default view refuses while the log is unmerged; compaction
    materializes the merge and the final rows carry the UPDATED values
    exactly once per key."""
    import shutil as _sh

    import pyarrow.parquet as pq

    from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory

    base = str(tmp_path / "hups")
    os.makedirs(base)
    src = os.path.join(sf_dir, "region.parquet")
    f1 = os.path.join(base, "f1.parquet")
    _sh.copy(src, f1)
    schema = spark.read.parquet(src).schema
    tl = HudiTimeline(spark, base)
    tl.init_table(
        Table(name="hu", base_path=base, table_format=TableFormat.HUDI,
              read_schema=schema, layout=DataLayoutStrategy.FLAT,
              record_key_fields=("r_regionkey",))
    )
    tl.commit(adds=build_inventory(spark, [f1], root=base), action="deltacommit")
    n = spark.read.parquet(src).count()

    # 2 updates (keys 0, 2 with new comment) + 2 inserts (keys 100, 101)
    region = spark.read.parquet(src)
    batch = (
        region.filter(F.col("r_regionkey").isin(0, 2))
        .withColumn("r_name", F.lit("UPDATED"))
        .unionByName(
            region.limit(2).withColumn(
                "r_regionkey",
                F.col("r_regionkey") + F.lit(100),
            )
        )
    )
    instant = tl.upsert_records(batch)
    assert instant

    # default view refuses (unmerged log), realtime nets: f1 stays n
    # (updates are zero-sum), the new base file carries the 2 inserts
    with pytest.raises(Exception, match="unmerged log"):
        tl.snapshot_files().collect()
    rt = {
        os.path.basename(r["path"]): r["record_count"]
        for r in tl.snapshot_files(view="realtime").collect()
    }
    assert rt.pop("f1.parquet") == n
    assert list(rt.values()) == [2]  # the insert file group

    # byte plane: the log decodes to exactly the 2 update records
    checks = tl.verify_log_stats().collect()
    assert len(checks) == 1 and checks[0]["log_ok"]

    # compaction materializes: n + 2 rows, keys unique, updates applied
    assert tl.compact_file_groups() is not None
    rows = tl.snapshot_files().collect()
    assert sum(r["record_count"] for r in rows) == n + 2
    got = {}
    for r in rows:
        t = pq.read_table(r["path"], columns=["r_regionkey", "r_name"])
        for k, c in zip(t["r_regionkey"].to_pylist(), t["r_name"].to_pylist()):
            assert k not in got, f"key {k} duplicated after compaction"
            got[k] = c
    assert got[0] == "UPDATED" and got[2] == "UPDATED"
    assert 100 in got and 101 in got

    with pytest.raises(ValueError, match="keyless"):
        keyless = str(tmp_path / "kl")
        os.makedirs(keyless)
        t2 = HudiTimeline(spark, keyless)
        t2.init_table(
            Table(name="kl", base_path=keyless, table_format=TableFormat.HUDI,
                  read_schema=schema, layout=DataLayoutStrategy.FLAT)
        )
        t2.upsert_records(batch)


def test_partitioned_upsert_records(spark, sf_dir, tmp_path):
    """r12: upsert_records on a PARTITIONED Hudi table — updates become
    log blocks on the file group that holds their key (global-index
    semantics), inserts derive hive partition paths from the partition
    fields (one new file group per touched partition dir), and the
    realtime view nets per group."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from onetable_spark.model import (
        DataLayoutStrategy,
        PartitionField,
        PartitionTransform,
        Table,
        TableFormat,
    )
    from onetable_spark.sources.parquet_inventory import inventory_from_directory

    base = str(tmp_path / "hpu")
    src = pq.read_table(os.path.join(sf_dir, "customer.parquet"))
    for seg in ("BUILDING", "MACHINERY"):
        d = os.path.join(base, f"c_mktsegment={seg}")
        os.makedirs(d)
        pq.write_table(
            src.filter(pc.equal(src["c_mktsegment"], seg)),
            os.path.join(d, "f.parquet"),
        )
    schema = spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).schema
    tl = HudiTimeline(spark, base)
    tl.init_table(
        Table(name="hp", base_path=base, table_format=TableFormat.HUDI,
              read_schema=schema,
              record_key_fields=("c_custkey",),
              partition_fields=(
                  PartitionField("c_mktsegment", PartitionTransform.VALUE),
              ),
              layout=DataLayoutStrategy.HIVE_STYLE_PARTITION)
    )
    tl.commit(adds=inventory_from_directory(spark, base), action="deltacommit")

    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    b_keys = [
        r["c_custkey"]
        for r in cust.filter(F.col("c_mktsegment") == "BUILDING").limit(2).collect()
    ]
    max_key = cust.agg(F.max("c_custkey")).first()[0]
    batch = (
        cust.filter(F.col("c_custkey").isin(b_keys))
        .withColumn("c_name", F.lit("UPDATED"))
        .unionByName(
            # inserts: 2 new keys into the AUTOMOBILE partition — a dir
            # that does not exist yet
            cust.limit(2)
            .withColumn("c_custkey", F.col("c_custkey") + F.lit(max_key) + 1)
            .withColumn("c_mktsegment", F.lit("AUTOMOBILE"))
        )
    )
    tl.upsert_records(batch)

    rt = tl.snapshot_files(view="realtime").collect()
    by_pp = {}
    for r in rt:
        pp = r["partition_values"].get("c_mktsegment")
        by_pp[pp] = by_pp.get(pp, 0) + r["record_count"]
    nb = cust.filter(F.col("c_mktsegment") == "BUILDING").count()
    nm = cust.filter(F.col("c_mktsegment") == "MACHINERY").count()
    assert by_pp["BUILDING"] == nb  # updates are zero-sum
    assert by_pp["MACHINERY"] == nm
    assert by_pp["AUTOMOBILE"] == 2  # fresh partition dir, fresh group
    # the new base file physically lives in the hive dir and keeps the
    # partition column in its own rows
    auto = [r for r in rt if r["partition_values"].get("c_mktsegment") == "AUTOMOBILE"]
    assert len(auto) == 1 and "c_mktsegment=AUTOMOBILE/" in auto[0]["path"]
    t = pq.read_table(auto[0]["path"], columns=["c_mktsegment"])
    assert set(t["c_mktsegment"].to_pylist()) == {"AUTOMOBILE"}

    # compaction materializes the updates into the BUILDING group
    assert tl.compact_file_groups() is not None
    rows = tl.snapshot_files().collect()
    got = {}
    for r in rows:
        tt = pq.read_table(r["path"], columns=["c_custkey", "c_name"])
        for k, c in zip(tt["c_custkey"].to_pylist(), tt["c_name"].to_pylist()):
            got[k] = c
    for k in b_keys:
        assert got[k] == "UPDATED"


def test_read_optimized_states_before_incremental_walk(spark, tmp_path):
    """The pure-Python multi-cutoff replay (``_file_group_states``)
    matches per-cutoff single replays, including a rollback applied
    MID-walk (a commit is live at cutoffs between it and its rollback,
    gone after)."""
    import json

    from onetable_spark.formats.hudi import _file_group_states

    def base_files(groups):
        return sorted(g["rel"] for g in groups.values() if g["rel"] is not None)

    base = str(tmp_path / "hstates")
    hoodie = os.path.join(base, ".hoodie")
    os.makedirs(hoodie)

    def commit(instant, action, stats=None, replace=None, undo=None):
        doc = {}
        if stats:
            doc["partitionToWriteStats"] = {
                "": [{"path": p, "fileId": fid} for p, fid in stats]
            }
        if replace:
            doc["partitionToReplaceFileIds"] = {"": list(replace)}
        if undo:
            doc["commitsRollback"] = list(undo)
        with open(os.path.join(hoodie, f"{instant}.{action}"), "w") as fh:
            json.dump(doc, fh)

    commit("001", "commit", stats=[("a.parquet", "fa")])
    commit("002", "commit", stats=[("b.parquet", "fb")])
    commit("003", "replacecommit", stats=[("m.parquet", "fm")], replace=["fa"])
    commit("004", "rollback", undo=["003"])
    commit("005", "commit", stats=[("c.parquet", "fc")])

    cutoffs = ["002", "003", "004", "005", "006"]
    states = {c: base_files(g) for c, g in _file_group_states(base, cutoffs).items() if c}
    for c in cutoffs:
        assert states[c] == base_files(_file_group_states(base, [c])[c]), c
    assert states["002"] == ["a.parquet"]
    assert states["003"] == ["a.parquet", "b.parquet"]
    # 003 replaced fa and added fm — live until its rollback at 004
    assert states["004"] == ["b.parquet", "m.parquet"]
    # the rollback restores fa and drops fm
    assert states["005"] == ["a.parquet", "b.parquet"]
    assert states["006"] == ["a.parquet", "b.parquet", "c.parquet"]


def test_hudi_last_modified_is_epoch_millis(spark, seeded_hudi):
    """ADVICE(low): last_modified_millis is epoch millis, not the instant
    literal cast to long."""
    tl = HudiTimeline(spark, seeded_hudi)
    row = tl.snapshot_files().first()
    instant = tl.latest_instant()
    assert row["last_modified_millis"] == instant_to_millis(instant)
    # sanity: within a day of now, not a 2e16 yyyyMMdd literal
    assert abs(row["last_modified_millis"] - time.time() * 1000) < 86_400_000


@pytest.mark.parametrize(
    "rel", ["f1.parquet", "p=1/part-0001.parquet", "dt=é/ünï.parquet", "a+b/c d.parquet"],
    ids=["ascii", "partitioned", "non_ascii", "plus_and_space"],
)
def test_file_id_column_matches_file_id_for(spark, rel):
    """The Spark form of a base file's uuid5 fileId, which the Hudi sync
    target derives replaced groups with, equals the Python one."""
    from onetable_spark.formats.hudi import _file_id_column

    got = spark.createDataFrame([(rel,)], "rel string").select(
        _file_id_column(F.col("rel")).alias("fid")
    ).first()["fid"]
    assert got == _file_id_for(rel)
