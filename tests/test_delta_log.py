"""Round-trip tests for the native Delta log (write → read → data parity)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from onetable_spark.formats.delta import CHECKPOINT_INTERVAL, DeltaLog
from onetable_spark.model import DataLayoutStrategy, Table, TableFormat, TableMetadata
from onetable_spark.sources.parquet_inventory import build_inventory, inventory_from_directory


@pytest.fixture()
def delta_table(spark, sf_dir, tmp_path):
    """A Delta table whose data files are copies of sf0.001 lineitem."""
    table_path = str(tmp_path / "lineitem_delta")
    os.makedirs(table_path)
    src = os.path.join(sf_dir, "lineitem.parquet")
    if os.path.isdir(src):
        for f in os.listdir(src):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(src, f), os.path.join(table_path, f))
    else:
        shutil.copy(src, os.path.join(table_path, "part-00000.parquet"))
    schema = spark.read.parquet(table_path).schema
    table = Table(
        name="lineitem",
        base_path=table_path,
        table_format=TableFormat.DELTA,
        read_schema=schema,
        layout=DataLayoutStrategy.FLAT,
    )
    return table_path, table


def test_init_and_snapshot_roundtrip(spark, delta_table):
    table_path, table = delta_table
    log = DeltaLog(spark, table_path)
    inv = inventory_from_directory(spark, table_path)
    log.init_table(table)
    v = log.commit(adds=inv)
    assert v == 1

    snap = log.current_snapshot()
    assert snap.table.table_format == TableFormat.DELTA
    assert snap.table.read_schema == table.read_schema

    files = snap.files.collect()
    expected = {r["path"] for r in inv.collect()}
    assert {f["path"] for f in files} == expected
    # stats survived the stats-JSON round trip
    f0 = files[0]
    assert f0["record_count"] > 0
    stats = {s["field"]: s for s in f0["column_stats"]}
    assert "l_orderkey" in stats and stats["l_orderkey"]["min_value"] is not None

    # data read through the snapshot == direct read
    paths = [f["path"] for f in files]
    via_snapshot = spark.read.parquet(*paths)
    direct = spark.read.parquet(table_path)
    assert via_snapshot.count() == direct.count()
    assert via_snapshot.exceptAll(direct).count() == 0


def test_incremental_changes_and_remove(spark, delta_table):
    table_path, table = delta_table
    log = DeltaLog(spark, table_path)
    inv = inventory_from_directory(spark, table_path)
    log.init_table(table)
    log.commit(adds=inv)

    removed_path = inv.select("path").first()["path"]
    v2 = log.commit(removes=inv.filter(F.col("path") == removed_path))
    assert v2 == 2

    snap_files = {r["path"] for r in log.snapshot_files().collect()}
    assert removed_path not in snap_files

    change = log.changes_for_version(v2)
    assert change.diff.added.count() == 0
    assert [r["path"] for r in change.diff.removed.collect()] == [removed_path]

    change1 = log.changes_for_version(1)
    assert change1.diff.added.count() == inv.count()


def test_sync_metadata_props(spark, delta_table):
    table_path, table = delta_table
    log = DeltaLog(spark, table_path)
    log.init_table(table)
    meta = log.update_configuration(TableMetadata(1234, (5, 6)).to_props())
    log.commit(metadata=meta)
    got = log.get_sync_metadata()
    assert got == TableMetadata(1234, (5, 6))
    # log retention default persisted at init (DeltaClient.java:267-270 parity)
    assert "delta.logRetentionDuration" in log.get_table_properties()


def test_checkpoint_replay(spark, delta_table):
    table_path, table = delta_table
    log = DeltaLog(spark, table_path)
    inv = inventory_from_directory(spark, table_path)
    log.init_table(table)
    log.commit(adds=inv)
    # push past the checkpoint interval with empty metadata commits
    for _ in range(CHECKPOINT_INTERVAL):
        log.commit(operation="MANUAL")
    ckpt = os.path.join(table_path, "_delta_log", f"{CHECKPOINT_INTERVAL:020d}.checkpoint.parquet")
    assert os.path.exists(ckpt)
    with open(os.path.join(table_path, "_delta_log", "_last_checkpoint")) as f:
        assert json.load(f)["version"] == CHECKPOINT_INTERVAL
    # snapshot after checkpoint still sees all files
    assert log.snapshot_files().count() == inv.count()


def test_optimistic_concurrency_no_clobber(spark, delta_table):
    table_path, table = delta_table
    log = DeltaLog(spark, table_path)
    log.init_table(table)
    # simulate a racing writer that grabbed version 1
    race = os.path.join(table_path, "_delta_log", f"{1:020d}.json")
    with open(race, "w") as f:
        f.write(json.dumps({"commitInfo": {"operation": "RACER"}}) + "\n")
    v = log.commit(operation="OURS")
    assert v == 2  # retried past the race, never overwrote


def test_generated_partition_column_roundtrip(spark, tmp_path):
    """C5 round-trip: a DAY-transformed partition field written to the log
    comes back as the same PartitionField via the generation expression."""
    from pyspark.sql import types as T

    from onetable_spark.model import PartitionField, PartitionTransform, Table, TableFormat

    path = str(tmp_path / "gen")
    schema = T.StructType([T.StructField("id", T.LongType()), T.StructField("ts", T.TimestampType())])
    log = DeltaLog(spark, path)
    log.init_table(
        Table(
            name="gen",
            base_path=path,
            table_format=TableFormat.DELTA,
            read_schema=schema,
            partition_fields=(PartitionField("ts", PartitionTransform.DAY, "ts_day"),),
        )
    )
    desc = DeltaLog(spark, path).table_descriptor()
    assert len(desc.partition_fields) == 1
    pf = desc.partition_fields[0]
    assert pf.source_field == "ts"
    assert pf.transform is PartitionTransform.DAY
    assert pf.name == "ts_day"
    # the generated column is in the schema with its expression metadata
    gen = desc.read_schema["ts_day"]
    assert gen.metadata["delta.generationExpression"] == "DATE_FORMAT(ts, 'yyyy-MM-dd')"


def test_fused_multicolumn_partition_roundtrip(spark, tmp_path):
    """C5 fused form (DeltaPartitionExtractor.java:104-225): a DAY transform
    materialized as YEAR(ts)/MONTH(ts)/DAY(ts) generated-column sets is ONE
    logical partition field, and regenerates the same three columns."""
    from pyspark.sql import types as T

    from onetable_spark.model import PartitionField, PartitionTransform, Table, TableFormat

    path = str(tmp_path / "fused")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("ts", T.TimestampType())]
    )
    log = DeltaLog(spark, path)
    log.init_table(
        Table(
            name="fused",
            base_path=path,
            table_format=TableFormat.DELTA,
            read_schema=schema,
            partition_fields=(
                PartitionField(
                    "ts",
                    PartitionTransform.DAY,
                    partition_field_names=("year", "month", "day"),
                ),
            ),
        )
    )
    desc = DeltaLog(spark, path).table_descriptor()
    assert len(desc.partition_fields) == 1
    pf = desc.partition_fields[0]
    assert pf.source_field == "ts"
    assert pf.transform is PartitionTransform.DAY
    assert pf.partition_field_names == ("year", "month", "day")
    for col, func in (("year", "YEAR"), ("month", "MONTH"), ("day", "DAY")):
        f = desc.read_schema[col]
        assert isinstance(f.dataType, T.IntegerType)
        assert f.metadata["delta.generationExpression"] == f"{func}(ts)"


def test_fused_partition_parse_shapes(spark):
    """Parser edge shapes from TestDeltaPartitionExtractor: a fused set
    followed by an identity column; an out-of-order set is rejected."""
    from pyspark.sql import types as T

    from onetable_spark.model import PartitionTransform
    from onetable_spark.schema.partitions import partition_fields_from_delta_columns

    def gen(name, expr, dt=T.IntegerType()):
        return T.StructField(name, dt, True, metadata={"delta.generationExpression": expr})

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("region", T.StringType()),
            gen("yr", "YEAR(ts)"),
            gen("mo", "MONTH(ts)"),
            gen("hr_alone", "HOUR(ts)"),
        ]
    )
    fields = partition_fields_from_delta_columns(["yr", "mo", "region"], schema)
    assert [f.transform for f in fields] == [
        PartitionTransform.MONTH,
        PartitionTransform.VALUE,
    ]
    assert fields[0].partition_field_names == ("yr", "mo")
    assert fields[1].source_field == "region"

    # single HOUR(ts) alone: granularity sequence [HOUR] != prefix [YEAR]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        partition_fields_from_delta_columns(["hr_alone"], schema)


def test_log_retention_cleanup(spark, delta_table):
    """delta.logRetentionDuration maintenance: commits behind the last
    checkpoint and past retention are deleted; reconstruction and the
    table descriptor survive via the checkpoint."""
    table_path, table = delta_table
    log = DeltaLog(spark, table_path)
    log.init_table(table)
    from onetable_spark.sources.parquet_inventory import inventory_from_directory

    inv = inventory_from_directory(spark, table_path)
    log.commit(adds=inv)
    for _ in range(10):  # cross the checkpoint interval (10)
        log.commit(operation="NOOP")
    assert log._last_checkpoint() is not None

    removed = log.clean_log(retention_hours=0)
    assert removed > 0
    kept = log._versions()
    assert min(kept) == log._last_checkpoint()

    # full replay still works from the checkpoint, as does metaData recovery
    assert log.snapshot_files().count() == inv.count()
    desc = log.table_descriptor()
    assert [f.name for f in desc.read_schema.fields] == [
        f.name for f in table.read_schema.fields
    ]


def test_stats_json_is_typed(spark, delta_table):
    """Delta stats JSON carries typed min/max (numbers unquoted), matching
    what delta-spark writes and data-skipping engines expect."""
    table_path, table = delta_table
    log = DeltaLog(spark, table_path)
    log.init_table(table)
    from onetable_spark.sources.parquet_inventory import inventory_from_directory

    v = log.commit(adds=inventory_from_directory(spark, table_path))
    with open(os.path.join(table_path, "_delta_log", f"{v:020d}.json")) as f:
        adds = [json.loads(l)["add"] for l in f if '"add"' in l]
    stats = json.loads(adds[0]["stats"])
    assert isinstance(stats["minValues"]["l_orderkey"], int)
    assert isinstance(stats["maxValues"]["l_extendedprice"], float)
    assert isinstance(stats["minValues"]["l_returnflag"], str)
    assert isinstance(stats["numRecords"], int)


def test_column_mapping_ids_flow_to_iceberg(spark, tmp_path):
    """A Delta table with column mapping enabled keeps its field ids stable
    into Iceberg — including across a column rename (reference:
    DeltaSchemaExtractor.java:193-198, testFieldIdsInDeltaSchema)."""
    from pyspark.sql import types as T

    from onetable_spark.formats.iceberg import structtype_to_iceberg

    def md(i, pn):
        return {"delta.columnMapping.id": i, "delta.columnMapping.physicalName": pn}

    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False, md(1, "col-aaa")),
            T.StructField(
                "payload",
                T.StructType(
                    [
                        T.StructField("amount", T.DoubleType(), True, md(3, "col-ccc")),
                        T.StructField("note", T.StringType(), True, md(4, "col-ddd")),
                    ]
                ),
                True,
                md(2, "col-bbb"),
            ),
            T.StructField("renamed_later", T.StringType(), True, md(5, "col-eee")),
        ]
    )
    table_path = str(tmp_path / "cm_delta")
    table = Table(
        name="cm",
        base_path=table_path,
        table_format=TableFormat.DELTA,
        read_schema=schema,
        layout=DataLayoutStrategy.FLAT,
    )
    log = DeltaLog(spark, table_path)
    log.init_table(table, configuration={"delta.columnMapping.mode": "name"})

    desc = DeltaLog(spark, table_path).table_descriptor()
    assert desc.read_schema["id"].metadata["fieldId"] == 1
    ice, _ = structtype_to_iceberg(desc.read_schema)
    top = {f["name"]: f["id"] for f in ice["fields"]}
    assert top == {"id": 1, "payload": 2, "renamed_later": 5}
    nested = {
        f["name"]: f["id"]
        for f in next(f for f in ice["fields"] if f["name"] == "payload")["type"]["fields"]
    }
    assert nested == {"amount": 3, "note": 4}

    # rename renamed_later -> better_name: column mapping keeps id 5 and the
    # physical name; the Iceberg id must follow the field, not the position
    renamed = T.StructType(
        schema.fields[:2]
        + [T.StructField("better_name", T.StringType(), True, md(5, "col-eee"))]
    )
    info = log.snapshot_info()
    new_meta = dict(info.metadata)
    new_meta["schemaString"] = json.dumps(renamed.jsonValue())
    log.commit(metadata=new_meta, operation="RENAME COLUMN")

    desc2 = DeltaLog(spark, table_path).table_descriptor()
    ice2, _ = structtype_to_iceberg(desc2.read_schema)
    top2 = {f["name"]: f["id"] for f in ice2["fields"]}
    assert top2 == {"id": 1, "payload": 2, "better_name": 5}


def test_reader_refuses_unknown_features_reads_deletion_vectors(spark, delta_table):
    """Per the Delta protocol a reader MUST refuse tables whose
    readerFeatures it does not support. deletionVectors graduated from
    refused (r10) to READ (r11): the descriptor's cardinality nets the
    record count; unknown features still refuse. The upgraded protocol
    action is authored as raw protocol JSON, not by our writer."""
    table_path, table = delta_table
    log = DeltaLog(spark, table_path)
    log.init_table(table)
    log.commit(adds=inventory_from_directory(spark, table_path))
    assert log.snapshot_files().count() >= 1  # pre-upgrade: reads fine

    # a later writer upgrades the table to deletion vectors and commits a
    # DV-carrying add (spec shape: protocol + add.deletionVector)
    v = log.latest_version() + 1
    with open(os.path.join(table_path, "_delta_log", f"{v:020d}.json"), "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"]}}) + "\n")
        f.write(json.dumps({"add": {
            "path": "dvd.parquet", "partitionValues": {}, "size": 1,
            "modificationTime": 0, "dataChange": True,
            "stats": json.dumps({"numRecords": 10, "minValues": {"id": "1"},
                                 "maxValues": {"id": "9"}, "nullCount": {"id": 0}}),
            "deletionVector": {"storageType": "u", "pathOrInlineDv": "x",
                               "offset": 1, "sizeInBytes": 40, "cardinality": 2}}}) + "\n")

    fresh = DeltaLog(spark, table_path)
    rows = {
        os.path.basename(r["path"]): r for r in fresh.snapshot_files().collect()
    }
    dvd = rows["dvd.parquet"]
    assert dvd["record_count"] == 8  # 10 raw - 2 deleted
    st = {s["field"]: s for s in dvd["column_stats"]}
    assert st["id"]["num_values"] == 8 and st["id"]["num_nulls"] is None
    assert st["id"]["min_value"] == "1" and st["id"]["max_value"] == "9"
    # un-DV'd files in the same snapshot keep exact null counts
    other = next(r for n, r in rows.items() if n != "dvd.parquet")
    assert all(s["num_nulls"] is not None for s in other["column_stats"])
    # a feature we genuinely do not implement still refuses
    with open(os.path.join(table_path, "_delta_log", f"{v:020d}.json"), "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["typeWidening"],
            "writerFeatures": ["typeWidening"]}}) + "\n")
    with pytest.raises(ValueError, match="unsupported Delta reader features"):
        DeltaLog(spark, table_path).snapshot_files()

    # supported features pass the same guard
    with open(os.path.join(table_path, "_delta_log", f"{v:020d}.json"), "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["timestampNtz", "columnMapping"],
            "writerFeatures": ["timestampNtz"]}}) + "\n")
    ok = DeltaLog(spark, table_path)
    assert ok.snapshot_files().count() >= 1

    # a reader version from the future is refused outright
    with open(os.path.join(table_path, "_delta_log", f"{v:020d}.json"), "w") as f:
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 9, "minWriterVersion": 9}}) + "\n")
    with pytest.raises(ValueError, match="minReaderVersion 9"):
        DeltaLog(spark, table_path).snapshot_files()


def test_column_mapping_stats_rekeyed_to_logical_names(spark, sf_dir, tmp_path):
    """A real columnMapping table keys add.stats and partitionValues by
    PHYSICAL names (col-<uuid>); the reader must surface LOGICAL names so
    stats pruning, the cross-format stats sync, and the validator see the
    schema's vocabulary (r10). The log is authored as raw protocol JSON —
    physical names everywhere, like delta-spark writes them."""
    base = str(tmp_path / "cmtbl")
    log_dir = os.path.join(base, "_delta_log")
    os.makedirs(log_dir)
    shutil.copy(os.path.join(sf_dir, "region.parquet"), os.path.join(base, "f1.parquet"))

    phys_k, phys_n = "col-8d2a11aa", "col-77b0e3f1"
    schema_string = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "r_regionkey", "type": "integer", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": phys_k}},
            {"name": "r_name", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": phys_n}},
        ],
    })
    stats = json.dumps({
        "numRecords": 5,
        "minValues": {phys_k: "0", phys_n: "AFRICA"},
        "maxValues": {phys_k: "4", phys_n: "MIDDLE EAST"},
        "nullCount": {phys_k: 0, phys_n: 0},
    })
    with open(os.path.join(log_dir, f"{0:020d}.json"), "w") as f:
        f.write(json.dumps({"protocol": {"minReaderVersion": 2,
                                         "minWriterVersion": 5}}) + "\n")
        f.write(json.dumps({"metaData": {
            "id": "cm-test", "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string, "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "2"},
            "createdTime": 1700000000000}}) + "\n")
        f.write(json.dumps({"add": {
            "path": "f1.parquet", "partitionValues": {},
            "size": 1828, "modificationTime": 1700000000000,
            "dataChange": True, "stats": stats}}) + "\n")

    log = DeltaLog(spark, base)
    [row] = log.snapshot_files().collect()
    got = {s["field"]: s for s in row["column_stats"]}
    assert set(got) == {"r_regionkey", "r_name"}  # logical, not col-<uuid>
    assert got["r_regionkey"]["min_value"] == "0"
    assert got["r_regionkey"]["max_value"] == "4"
    assert got["r_name"]["max_value"] == "MIDDLE EAST"
    assert row["record_count"] == 5

    # the ids flow to Iceberg as field-ids, and the synced stats keep the
    # logical vocabulary end-to-end
    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.sync import SyncClient, source_for, target_for

    results = SyncClient(spark).sync(
        source_for(spark, TableFormat.DELTA, base),
        [target_for(spark, TableFormat.ICEBERG, base)],
    )
    assert all(r.status.value == "SUCCESS" for r in results.values())
    ice = IcebergTable(spark, base)
    md = ice.metadata()
    fields = {f["name"]: f["id"] for f in ice._schema_for(md)["fields"]}
    assert fields == {"r_regionkey": 1, "r_name": 2}  # columnMapping ids kept
    [irow] = ice.snapshot_files().collect()
    istats = {s["field"]: s for s in irow["column_stats"]}
    assert istats["r_regionkey"]["min_value"] == "0"
    assert istats["r_name"]["min_value"] == "AFRICA"


def test_column_mapping_partition_values_rekeyed(spark, sf_dir, tmp_path):
    """Hive partition keys in partitionValues also arrive physical-named
    on columnMapping tables; the inventory must carry logical keys."""
    base = str(tmp_path / "cmpart")
    log_dir = os.path.join(base, "_delta_log")
    os.makedirs(os.path.join(base, "part-0"))
    os.makedirs(log_dir)
    shutil.copy(os.path.join(sf_dir, "region.parquet"),
                os.path.join(base, "part-0", "f1.parquet"))
    schema_string = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "r_name", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-aa"}},
            {"name": "bucket", "type": "integer", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-bb"}},
        ],
    })
    with open(os.path.join(log_dir, f"{0:020d}.json"), "w") as f:
        f.write(json.dumps({"protocol": {"minReaderVersion": 2,
                                         "minWriterVersion": 5}}) + "\n")
        f.write(json.dumps({"metaData": {
            "id": "cmp", "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string, "partitionColumns": ["bucket"],
            "configuration": {"delta.columnMapping.mode": "name"},
            "createdTime": 1700000000000}}) + "\n")
        f.write(json.dumps({"add": {
            "path": "part-0/f1.parquet",
            "partitionValues": {"col-bb": "0"},
            "size": 1828, "modificationTime": 1700000000000,
            "dataChange": True, "stats": json.dumps({"numRecords": 5})}}) + "\n")

    [row] = DeltaLog(spark, base).snapshot_files().collect()
    assert row["partition_values"] == {"bucket": "0"}  # logical key


def test_column_mapping_rekeying_covers_incremental_changes(spark, sf_dir, tmp_path):
    """Review fix (r10): changes_for_version must emit LOGICAL stats and
    partition keys on columnMapping tables exactly like snapshot_files —
    the incremental sync path was building its plan before the key map
    was materialized."""
    base = str(tmp_path / "cminc")
    log_dir = os.path.join(base, "_delta_log")
    os.makedirs(os.path.join(base, "b-0"))
    os.makedirs(log_dir)
    shutil.copy(os.path.join(sf_dir, "region.parquet"),
                os.path.join(base, "b-0", "f1.parquet"))
    schema_string = json.dumps({
        "type": "struct",
        "fields": [
            {"name": "r_regionkey", "type": "integer", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-k"}},
            {"name": "bucket", "type": "integer", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-b"}},
        ],
    })
    with open(os.path.join(log_dir, f"{0:020d}.json"), "w") as f:
        f.write(json.dumps({"protocol": {"minReaderVersion": 2,
                                         "minWriterVersion": 5}}) + "\n")
        f.write(json.dumps({"metaData": {
            "id": "cminc", "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_string, "partitionColumns": ["bucket"],
            "configuration": {"delta.columnMapping.mode": "name"},
            "createdTime": 1700000000000}}) + "\n")
    with open(os.path.join(log_dir, f"{1:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 1700000001000}}) + "\n")
        f.write(json.dumps({"add": {
            "path": "b-0/f1.parquet", "partitionValues": {"col-b": "0"},
            "size": 1828, "modificationTime": 1700000001000,
            "dataChange": True,
            "stats": json.dumps({"numRecords": 5,
                                 "minValues": {"col-k": "0"},
                                 "maxValues": {"col-k": "4"},
                                 "nullCount": {"col-k": 0}})}}) + "\n")

    change = DeltaLog(spark, base).changes_for_version(1)
    [row] = change.diff.added.collect()
    assert row["partition_values"] == {"bucket": "0"}
    stats = {s["field"]: s for s in row["column_stats"]}
    assert set(stats) == {"r_regionkey"} and stats["r_regionkey"]["max_value"] == "4"


def test_checkpoint_only_table_full_sync_path(spark, sf_dir, tmp_path):
    """Review fix (r10): a quiesced table holding ONLY its checkpoint
    (commits cleaned) must serve the whole sync entry path —
    table_descriptor/current_snapshot need commit_timestamp, whose commit
    JSON is gone; it falls back to the checkpoint file's mtime."""
    from onetable_spark.model import DataLayoutStrategy, Table, TableFormat

    base = str(tmp_path / "ckonly")
    os.makedirs(base)
    shutil.copy(os.path.join(sf_dir, "region.parquet"), os.path.join(base, "f1.parquet"))
    schema = spark.read.parquet(base).schema
    log = DeltaLog(spark, base)
    log.init_table(Table(name="ck", base_path=base, table_format=TableFormat.DELTA,
                         read_schema=schema, layout=DataLayoutStrategy.FLAT))
    log.commit(adds=inventory_from_directory(spark, base))
    log.checkpoint()
    # simulate aggressive log cleanup: every commit JSON removed
    for f in os.listdir(os.path.join(base, "_delta_log")):
        if f.endswith(".json") and f[:20].isdigit():
            os.remove(os.path.join(base, "_delta_log", f))

    fresh = DeltaLog(spark, base)
    assert fresh.exists()
    assert fresh.latest_version() == 1
    snap = fresh.current_snapshot()  # used to raise FileNotFoundError
    assert snap.files.count() == 1
    assert fresh.table_descriptor().name  # full descriptor path works


def _stage_delta(spark, sf_dir, base, n_small=2):
    os.makedirs(base)
    small = []
    for i in range(n_small):
        p = os.path.join(base, f"small{i}.parquet")
        shutil.copy(os.path.join(sf_dir, "region.parquet"), p)
        small.append(p)
    schema = spark.read.parquet(base).schema
    log = DeltaLog(spark, base)
    log.init_table(
        Table(
            name="staged",
            base_path=base,
            table_format=TableFormat.DELTA,
            read_schema=schema,
            layout=DataLayoutStrategy.FLAT,
        )
    )
    log.commit(adds=build_inventory(spark, small, root=base))
    return log


def test_torn_multipart_checkpoint_refused(spark, sf_dir, tmp_path):
    """A multi-part checkpoint with a missing part must REFUSE, not replay
    a partial snapshot (dropped live files = silent wrong data)."""
    base = str(tmp_path / "torn")
    log = _stage_delta(spark, sf_dir, base)
    log.checkpoint()
    v = log._last_checkpoint()
    single = os.path.join(log.log_path, f"{v:020d}.checkpoint.parquet")
    # fake a 2-part checkpoint where only part 1 survived
    torn = os.path.join(
        log.log_path, f"{v:020d}.checkpoint.{1:010d}.{2:010d}.parquet"
    )
    os.rename(single, torn)
    with pytest.raises(ValueError, match="incomplete/torn"):
        DeltaLog(spark, base)._checkpoint_files(v)
    # a COMPLETE 2-part checkpoint (duplicate content is fine: replay
    # dedups per path) passes the guard and replays
    part2 = os.path.join(
        log.log_path, f"{v:020d}.checkpoint.{2:010d}.{2:010d}.parquet"
    )
    shutil.copy(torn, part2)
    fresh = DeltaLog(spark, base)
    assert len(fresh._checkpoint_files(v)) == 2
    assert fresh.snapshot_files().count() == 2


def test_last_checkpoint_parts_mismatch_refused(spark, sf_dir, tmp_path):
    """_last_checkpoint's ``parts`` must agree with the on-disk part count
    — the protocol's reader-side completeness rule."""
    base = str(tmp_path / "parts")
    log = _stage_delta(spark, sf_dir, base)
    log.checkpoint()
    v = log._last_checkpoint()
    single = os.path.join(log.log_path, f"{v:020d}.checkpoint.parquet")
    p1 = os.path.join(log.log_path, f"{v:020d}.checkpoint.{1:010d}.{1:010d}.parquet")
    os.rename(single, p1)
    lc = os.path.join(log.log_path, "_last_checkpoint")
    with open(lc, "w") as f:
        json.dump({"version": v, "parts": 3}, f)
    with pytest.raises(ValueError, match="declares 3"):
        DeltaLog(spark, base)._checkpoint_files(v)


def test_json_v2_checkpoint_refused_explicitly(spark, sf_dir, tmp_path):
    """A JSON-format v2 checkpoint gets a clean 'unsupported' refusal, not
    a confusing no-checkpoint-files FileNotFoundError."""
    base = str(tmp_path / "jsonv2")
    log = _stage_delta(spark, sf_dir, base)
    log.checkpoint()
    v = log._last_checkpoint()
    single = os.path.join(log.log_path, f"{v:020d}.checkpoint.parquet")
    os.remove(single)
    j = os.path.join(
        log.log_path, f"{v:020d}.checkpoint.80a083e8-7026-4e79-81be-64bd76c43a11.json"
    )
    open(j, "w").write("{}\n")
    with pytest.raises(ValueError, match="JSON-format v2"):
        DeltaLog(spark, base)._checkpoint_files(v)


def test_multipart_checkpoint_write_and_replay(spark, sf_dir, tmp_path):
    """The writer now produces the classic MULTI-PART checkpoint form
    (parts write in parallel, names embed (index, total), _last_checkpoint
    declares parts) and the reader's completeness guard accepts it whole
    and refuses it torn."""
    base = str(tmp_path / "multipart")
    log = _stage_delta(spark, sf_dir, base, n_small=3)
    log.checkpoint(parts=3)
    lc = json.load(open(os.path.join(log.log_path, "_last_checkpoint")))
    v = lc["version"]
    # `parts` is a fan-out TARGET: round-robin can leave a target
    # partition empty on tiny tables and Spark skips empty output files.
    # The contract is CONSISTENCY — names, _last_checkpoint, and disk all
    # agree — plus genuinely multi-part output.
    n = lc["parts"]
    assert 2 <= n <= 3
    parts = sorted(
        f for f in os.listdir(log.log_path)
        if f.startswith(f"{v:020d}.checkpoint.") and f.endswith(".parquet")
    )
    assert parts == [
        f"{v:020d}.checkpoint.{i:010d}.{n:010d}.parquet"
        for i in range(1, n + 1)
    ]
    # checkpoint-only replay: sweep the commit JSONs, read back whole
    removed = log.clean_log(retention_hours=0)
    assert removed >= 1
    fresh = DeltaLog(spark, base)
    assert fresh.snapshot_files().count() == 3
    # torn: losing one part refuses
    os.remove(os.path.join(log.log_path, parts[1]))
    with pytest.raises(ValueError, match="incomplete/torn"):
        DeltaLog(spark, base).snapshot_files().count()


def test_commit_plane_goes_through_filesystem_seam(spark, sf_dir, tmp_path, monkeypatch):
    """r12 (VERDICT #8): the commit plane's visibility-changing writes —
    commit publish, checkpoint-part replace, _last_checkpoint swap — go
    through the injectable CommitFilesystem seam. A fake object store
    (conditional-put via exists-check + copy, NO hard links) drives a
    full commit + multi-part checkpoint lifecycle; os.link is poisoned to
    prove the log writer no longer binds POSIX directly."""
    import shutil as _sh

    class FakeObjectStore:
        """Copy-based conditional put — what an S3/GCS adapter does."""

        def __init__(self):
            self.puts = []
            self.replaces = []
            self.docs = []

        def publish_if_absent(self, src, dest):
            if os.path.exists(dest):
                raise FileExistsError(dest)
            _sh.copyfile(src, dest)
            self.puts.append(dest)

        def replace(self, src, dest):
            _sh.copyfile(src, dest)
            os.remove(src)
            self.replaces.append(dest)

        def write_atomic(self, path, data):
            with open(path + ".staged", "w") as f:
                f.write(data)
            os.rename(path + ".staged", path)
            self.docs.append(path)

    base = str(tmp_path / "seam")
    fake = FakeObjectStore()
    _stage_delta(spark, sf_dir, base, n_small=3)

    def no_link(*a, **k):
        raise AssertionError("commit plane bound os.link directly")

    monkeypatch.setattr(os, "link", no_link)
    log = DeltaLog(spark, base, fs=fake)
    log.commit(operation="SEAM-PROBE")
    log.checkpoint(parts=2)
    assert fake.puts, "commit publish bypassed the seam"
    assert fake.replaces, "checkpoint parts bypassed the seam"
    assert any(p.endswith("_last_checkpoint") for p in fake.docs)
    # the table written through the fake store reads back whole
    fresh = DeltaLog(spark, base)
    assert fresh.snapshot_files().count() == 3
