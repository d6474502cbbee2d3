"""Round-trip tests for the native Iceberg v1 table implementation."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from onetable_spark.formats.iceberg import (
    CommitConflictError,
    IcebergTable,
    iceberg_to_structtype,
    structtype_to_iceberg,
)
from onetable_spark.model import (
    DataLayoutStrategy,
    PartitionField,
    PartitionTransform,
    Table,
    TableFormat,
    TableMetadata,
)
from onetable_spark.sources.parquet_inventory import build_inventory, inventory_from_directory


def test_schema_conversion_roundtrip():
    schema = T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("name", T.StringType(), True),
            T.StructField("price", T.DoubleType(), True),
            T.StructField("tags", T.ArrayType(T.StringType()), True),
            T.StructField("props", T.MapType(T.StringType(), T.IntegerType()), True),
            T.StructField(
                "nested",
                T.StructType([T.StructField("x", T.IntegerType(), True)]),
                True,
            ),
            T.StructField("d", T.DecimalType(20, 2), True),
            T.StructField("ts", T.TimestampNTZType(), True),
            T.StructField("tz", T.TimestampType(), True),
            T.StructField("day", T.DateType(), True),
            T.StructField("bin", T.BinaryType(), True),
        ]
    )
    ice, next_id = structtype_to_iceberg(schema)
    assert next_id > len(schema.fields)  # nested/list/map ids assigned
    ids = [f["id"] for f in ice["fields"]]
    assert len(ids) == len(set(ids))
    back = iceberg_to_structtype(ice)

    def strip_meta(node):
        if isinstance(node, dict):
            return {k: strip_meta(v) for k, v in node.items() if k != "metadata"}
        if isinstance(node, list):
            return [strip_meta(x) for x in node]
        return node

    # same names/types/nullability (metadata differs: fieldIds added)
    assert strip_meta(back.jsonValue()) == strip_meta(schema.jsonValue())


@pytest.fixture()
def ice_table(spark, sf_dir, tmp_path):
    table_path = str(tmp_path / "customer_ice")
    os.makedirs(table_path)
    shutil.copy(
        os.path.join(sf_dir, "customer.parquet"), os.path.join(table_path, "part-00000.parquet")
    )
    schema = spark.read.parquet(table_path).schema
    table = Table(
        name="customer",
        base_path=table_path,
        table_format=TableFormat.ICEBERG,
        read_schema=schema,
        layout=DataLayoutStrategy.FLAT,
    )
    return table_path, table


def test_init_commit_snapshot(spark, ice_table):
    table_path, table = ice_table
    ice = IcebergTable(spark, table_path)
    ice.init_table(table)
    assert ice.exists() and ice.current_version() == 1

    inv = inventory_from_directory(spark, table_path)
    sid = ice.commit_overwrite(adds=inv)
    assert ice.current_version() == 2

    snap = ice.current_snapshot()
    assert snap.version == str(sid)
    files = snap.files.collect()
    assert {f["path"] for f in files} == {r["path"] for r in inv.collect()}
    f0 = files[0]
    assert f0["record_count"] > 0 and f0["size"] > 0
    stats = {s["field"]: s for s in (f0["column_stats"] or [])}
    # bounds survived the byte-serialization round trip
    assert stats["c_custkey"]["min_value"] is not None
    orig = {s["field"]: s for s in inv.first()["column_stats"]}
    assert stats["c_custkey"]["min_value"] == orig["c_custkey"]["min_value"]
    assert stats["c_custkey"]["num_nulls"] == orig["c_custkey"]["num_nulls"]

    # table descriptor round trip
    desc = ice.table_descriptor()
    assert [f.name for f in desc.read_schema.fields] == [f.name for f in table.read_schema.fields]

    via = spark.read.parquet(*[f["path"] for f in files])
    direct = spark.read.parquet(table_path)
    assert via.exceptAll(direct).count() == 0


def test_incremental_changes_and_parent_chain(spark, ice_table):
    table_path, table = ice_table
    ice = IcebergTable(spark, table_path)
    ice.init_table(table)
    inv = inventory_from_directory(spark, table_path)
    s1 = ice.commit_overwrite(adds=inv)

    extra = os.path.join(table_path, "extra-00000.parquet")
    shutil.copy(inv.first()["path"], extra)
    from onetable_spark.sources.parquet_inventory import build_inventory

    inv2 = build_inventory(spark, [extra], root=table_path)
    s2 = ice.commit_overwrite(adds=inv2)

    assert ice.snapshot_files().count() == 2
    # snapshot 2 carries file 1 as EXISTING, adds only the new file
    change = ice.changes_for_snapshot(s2)
    assert {r["path"] for r in change.diff.added.collect()} == {extra}
    assert change.diff.removed.count() == 0

    chain = ice.snapshots_after_millis(0)
    assert [s["snapshot-id"] for s in chain] == [s1, s2]
    assert ice.is_incremental_sync_safe_from(chain[0]["timestamp-ms"])

    # removal via overwrite
    s3 = ice.commit_overwrite(removes=inv2)
    assert {r["path"] for r in ice.snapshot_files().collect()} == {inv.first()["path"]}

    # time travel to s2 still sees both
    assert ice.snapshot_files(s2).count() == 2


def test_properties_and_expiry(spark, ice_table):
    table_path, table = ice_table
    ice = IcebergTable(spark, table_path)
    ice.init_table(table)
    inv = inventory_from_directory(spark, table_path)
    meta = TableMetadata(4242, ())
    s1 = ice.commit_overwrite(adds=inv, properties=meta.to_props())
    assert ice.get_sync_metadata() == meta

    # expire everything older than "now + 1h" — only current survives
    s2 = ice.commit_overwrite(
        properties={"k": "v"},
        expire_older_than_millis=int(__import__("time").time() * 1000) + 3600_000,
    )
    snaps = ice.metadata()["snapshots"]
    assert [s["snapshot-id"] for s in snaps] == [s2]
    # expiry never breaks the current snapshot's file set
    assert ice.snapshot_files().count() == 1


def test_rollback(spark, ice_table):
    table_path, table = ice_table
    ice = IcebergTable(spark, table_path)
    ice.init_table(table)
    inv = inventory_from_directory(spark, table_path)
    s1 = ice.commit_overwrite(adds=inv)
    s2 = ice.commit_overwrite(removes=inv)
    assert ice.snapshot_files().count() == 0
    ice.rollback_to(s1)
    assert ice.snapshot_files().count() == 1


def test_partitioned_spec(spark, sf_dir, tmp_path):
    table_path = str(tmp_path / "part_ice")
    part_dir = os.path.join(table_path, "c_mktsegment=BUILDING")
    os.makedirs(part_dir)
    shutil.copy(os.path.join(sf_dir, "customer.parquet"), os.path.join(part_dir, "f.parquet"))
    schema = spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).schema
    table = Table(
        name="pc",
        base_path=table_path,
        table_format=TableFormat.ICEBERG,
        read_schema=schema,
        partition_fields=(PartitionField("c_mktsegment", PartitionTransform.VALUE),),
        layout=DataLayoutStrategy.HIVE_STYLE_PARTITION,
    )
    ice = IcebergTable(spark, table_path)
    ice.init_table(table)
    inv = inventory_from_directory(spark, table_path)
    assert inv.first()["partition_values"] == {"c_mktsegment": "BUILDING"}
    ice.commit_overwrite(adds=inv)
    row = ice.snapshot_files().first()
    assert row["partition_values"] == {"c_mktsegment": "BUILDING"}
    desc = ice.table_descriptor()
    assert desc.partition_fields[0].source_field == "c_mktsegment"
    assert desc.partition_fields[0].transform == PartitionTransform.VALUE


# ---------------------------------------------------------- property-based

from hypothesis import given, settings
from hypothesis import strategies as st

_PRIMITIVES = [
    T.LongType(),
    T.IntegerType(),
    T.StringType(),
    T.DoubleType(),
    T.FloatType(),
    T.BooleanType(),
    T.DateType(),
    T.BinaryType(),
    T.TimestampType(),
    T.TimestampNTZType(),
    T.DecimalType(10, 2),
    T.DecimalType(30, 8),
]

_names = st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True)


def _dtypes(depth: int):
    if depth <= 0:
        return st.sampled_from(_PRIMITIVES)
    inner = _dtypes(depth - 1)
    return st.one_of(
        st.sampled_from(_PRIMITIVES),
        st.builds(T.ArrayType, inner, st.booleans()),
        st.builds(T.MapType, st.sampled_from(_PRIMITIVES), inner, st.booleans()),
        st.builds(
            lambda fields: T.StructType(fields),
            st.lists(
                st.builds(T.StructField, _names, inner, st.booleans()),
                min_size=1,
                max_size=3,
                unique_by=lambda f: f.name,
            ),
        ),
    )


_schemas = st.builds(
    lambda fields: T.StructType(fields),
    st.lists(
        st.builds(T.StructField, _names, _dtypes(2), st.booleans()),
        min_size=1,
        max_size=5,
        unique_by=lambda f: f.name,
    ),
)


@settings(max_examples=60, deadline=None)
@given(_schemas)
def test_schema_roundtrip_property(schema):
    """Any StructType (nested arrays/maps/structs, decimals, timestamps)
    survives StructType → Iceberg schema → StructType with names, types
    and nullability intact, and globally unique field ids."""
    ice, _ = structtype_to_iceberg(schema)

    ids = []

    def walk(node):
        if isinstance(node, dict):
            if "id" in node and isinstance(node.get("id"), int):
                ids.append(node["id"])
            for v in node.values():
                walk(v)
        elif isinstance(node, list):
            for v in node:
                walk(v)

    walk(ice)
    assert len(ids) == len(set(ids)), "field ids must be globally unique"

    back = iceberg_to_structtype(ice)

    def strip_meta(node):
        if isinstance(node, dict):
            return {k: strip_meta(v) for k, v in node.items() if k != "metadata"}
        if isinstance(node, list):
            return [strip_meta(x) for x in node]
        return node

    assert strip_meta(back.jsonValue()) == strip_meta(schema.jsonValue())


def test_append_fast_path_reuses_manifests_and_compacts(spark, sf_dir, tmp_path):
    """Append commits reference prior manifests verbatim (manifest list
    grows by ONE per append); the live set stays correct; incremental
    changes_for_snapshot still isolates each commit's own adds."""
    import os as _os

    from onetable_spark.formats.avro_codec import read_container
    from onetable_spark.model import Table as TableModel
    from onetable_spark.sources.parquet_inventory import build_inventory

    table_path = str(tmp_path / "appends")
    _os.makedirs(table_path)
    import shutil as _shutil

    tbl = IcebergTable(spark, table_path)
    schema = spark.read.parquet(_os.path.join(sf_dir, "region.parquet")).schema
    tbl.init_table(
        TableModel(
            name="appends",
            base_path=table_path,
            table_format=TableFormat.ICEBERG,
            read_schema=schema,
        )
    )
    snap_ids = []
    for i in range(3):
        f = _os.path.join(table_path, f"f{i}.parquet")
        _shutil.copy(_os.path.join(sf_dir, "region.parquet"), f)
        inv = build_inventory(spark, [f], root=table_path)
        snap_ids.append(tbl.commit_overwrite(adds=inv, schema=schema))

    assert tbl.snapshot_files().count() == 3
    md = tbl.metadata()
    snap = tbl.current_snapshot_meta(md)
    _, manifests = read_container(snap["manifest-list"])
    # one added-manifest per append — no O(table) rewrite happened
    assert len(manifests) == 3
    assert sorted({m["added_snapshot_id"] for m in manifests}) == sorted(snap_ids)
    # per-commit change isolation survives manifest reuse
    change = tbl.changes_for_snapshot(snap_ids[1])
    assert [r["path"].rsplit("/", 1)[-1] for r in change.diff.added.collect()] == ["f1.parquet"]
    assert change.diff.removed.count() == 0


def test_expiry_deletes_orphaned_manifest_files(spark, sf_dir, tmp_path):
    """ExpireSnapshots file cleanup: manifests referenced only by expired
    snapshots are deleted from disk; manifests shared with live snapshots
    (append fast-path reuse) survive."""
    import os as _os
    import shutil as _shutil
    import time as _time

    from onetable_spark.model import Table as TableModel
    from onetable_spark.sources.parquet_inventory import build_inventory

    table_path = str(tmp_path / "expire")
    _os.makedirs(table_path)
    tbl = IcebergTable(spark, table_path)
    schema = spark.read.parquet(_os.path.join(sf_dir, "region.parquet")).schema
    tbl.init_table(
        TableModel(
            name="expire", base_path=table_path,
            table_format=TableFormat.ICEBERG, read_schema=schema,
        )
    )
    for i in range(3):
        f = _os.path.join(table_path, f"f{i}.parquet")
        _shutil.copy(_os.path.join(sf_dir, "region.parquet"), f)
        tbl.commit_overwrite(adds=build_inventory(spark, [f], root=table_path), schema=schema)

    meta_dir = tbl.metadata_dir
    lists_before = [f for f in _os.listdir(meta_dir) if f.startswith("snap-")]
    assert len(lists_before) == 3

    # expire everything older than "now" — only the current snapshot stays
    tbl.commit_overwrite(
        adds=None, schema=schema,
        expire_older_than_millis=int(_time.time() * 1000) + 1000,
    )
    md = tbl.metadata()
    assert len(md["snapshots"]) == 1
    lists_after = [f for f in _os.listdir(meta_dir) if f.startswith("snap-")]
    assert len(lists_after) == 1  # expired manifest lists removed from disk
    # the shared manifests referenced by the surviving snapshot remain intact
    assert tbl.snapshot_files().count() == 3


def test_partition_scoped_overwrite_carries_clean_manifests(spark, sf_dir, tmp_path):
    """An overwrite removing files from ONE manifest rewrites only that
    manifest; the untouched manifests are carried verbatim (same manifest
    paths), the removal shows as a DELETED change, and the live set is
    exact — O(changed), not O(table)."""
    import os as _os
    import shutil as _shutil

    from onetable_spark.formats.avro_codec import read_container
    from onetable_spark.model import Table as TableModel
    from onetable_spark.sources.parquet_inventory import build_inventory

    table_path = str(tmp_path / "scoped")
    _os.makedirs(table_path)
    tbl = IcebergTable(spark, table_path)
    schema = spark.read.parquet(_os.path.join(sf_dir, "region.parquet")).schema
    tbl.init_table(
        TableModel(
            name="scoped",
            base_path=table_path,
            table_format=TableFormat.ICEBERG,
            read_schema=schema,
        )
    )
    invs = []
    for i in range(4):
        f = _os.path.join(table_path, f"f{i}.parquet")
        _shutil.copy(_os.path.join(sf_dir, "region.parquet"), f)
        inv = build_inventory(spark, [f], root=table_path)
        invs.append(inv)
        tbl.commit_overwrite(adds=inv, schema=schema)
    md = tbl.metadata()
    _, before = read_container(tbl.current_snapshot_meta(md)["manifest-list"])
    assert len(before) == 4
    by_path = {m["manifest_path"] for m in before}

    # remove the file added by commit 2 only
    sid = tbl.commit_overwrite(removes=invs[2])
    md = tbl.metadata()
    _, after = read_container(tbl.current_snapshot_meta(md)["manifest-list"])
    carried = [m for m in after if m["manifest_path"] in by_path]
    fresh = [m for m in after if m["manifest_path"] not in by_path]
    # 3 clean manifests carried verbatim + 1 new deleted-manifest; the
    # dirty manifest held ONLY the removed file, so no existing-manifest
    assert len(carried) == 3
    assert [m["deleted_data_files_count"] for m in fresh] == [1]
    live = sorted(r["path"].rsplit("/", 1)[-1] for r in tbl.snapshot_files().collect())
    assert live == ["f0.parquet", "f1.parquet", "f3.parquet"]
    change = tbl.changes_for_snapshot(sid)
    assert [r["path"].rsplit("/", 1)[-1] for r in change.diff.removed.collect()] == ["f2.parquet"]
    assert change.diff.added.count() == 0


def test_rewrite_path_writes_sharded_manifests_distributed(spark, sf_dir, tmp_path, monkeypatch):
    """Round-6 (VERDICT r5 #5): on the rewrite path (schema change /
    compaction) the carried live set is serialized into EXISTING-status
    manifest shards by executors — the driver never holds O(table)
    entries. With the shard fan-in shrunk to 2 entries, 5 carried files
    must fold into 3 shards; the live set, stats plane, and change
    isolation must all survive the shard round-trip."""
    import os as _os
    import shutil as _shutil

    from pyspark.sql import types as T

    import onetable_spark.formats.iceberg as ice_mod
    from onetable_spark.formats.avro_codec import read_container
    from onetable_spark.model import Table as TableModel
    from onetable_spark.sources.parquet_inventory import build_inventory

    table_path = str(tmp_path / "rewrite")
    _os.makedirs(table_path)
    tbl = IcebergTable(spark, table_path)
    schema = spark.read.parquet(_os.path.join(sf_dir, "region.parquet")).schema
    tbl.init_table(
        TableModel(
            name="rewrite", base_path=table_path,
            table_format=TableFormat.ICEBERG, read_schema=schema,
        )
    )
    files = []
    for i in range(5):
        f = _os.path.join(table_path, f"f{i}.parquet")
        _shutil.copy(_os.path.join(sf_dir, "region.parquet"), f)
        files.append(f)
    tbl.commit_overwrite(adds=build_inventory(spark, files, root=table_path), schema=schema)
    per_file = tbl.snapshot_files().select("path", "record_count").collect()
    assert len(per_file) == 5 and all(r["record_count"] > 0 for r in per_file)

    # schema change forces the rewrite path; tiny shard cap forces fan-out
    monkeypatch.setattr(ice_mod, "_MANIFEST_SHARD_ENTRIES", 2)
    f5 = _os.path.join(table_path, "f5.parquet")
    _shutil.copy(_os.path.join(sf_dir, "region.parquet"), f5)
    evolved = T.StructType(list(schema.fields) + [T.StructField("note", T.StringType(), True)])
    snap2 = tbl.commit_overwrite(
        adds=build_inventory(spark, [f5], root=table_path), schema=evolved
    )

    snap = tbl.current_snapshot_meta(tbl.metadata())
    _, manifests = read_container(snap["manifest-list"])
    existing = [m for m in manifests if m["existing_data_files_count"] > 0]
    assert len(existing) == 3, [m["existing_data_files_count"] for m in existing]
    assert all(m["existing_data_files_count"] <= 2 for m in existing)
    assert sum(m["existing_data_files_count"] for m in existing) == 5
    # live set + stats survive the executor-side avro round-trip exactly
    after = {r["path"]: r["record_count"] for r in tbl.snapshot_files().collect()}
    assert len(after) == 6
    for r in per_file:
        assert after[r["path"]] == r["record_count"]
    # change isolation: the evolving commit's own add is just f5
    change = tbl.changes_for_snapshot(snap2)
    assert [r["path"].rsplit("/", 1)[-1] for r in change.diff.added.collect()] == ["f5.parquet"]


def test_unsupported_format_version_refused(spark, tmp_path):
    """Iceberg v3 (deletion vectors, row lineage) read with v2 semantics
    would resurrect deleted rows — refuse at the metadata gate."""
    import json

    import pytest as _pytest

    base = str(tmp_path / "v3tbl")
    meta = os.path.join(base, "metadata")
    os.makedirs(meta)
    with open(os.path.join(meta, "v1.metadata.json"), "w") as f:
        json.dump({"format-version": 3, "table-uuid": "x", "location": base,
                   "schemas": [], "snapshots": []}, f)
    with open(os.path.join(meta, "version-hint.text"), "w") as f:
        f.write("1")
    with _pytest.raises(ValueError, match="format-version 3"):
        IcebergTable(spark, base).metadata()


def test_partitioned_position_deletes_and_rewrite(spark, sf_dir, tmp_path):
    """r12: position-delete commits and rewrite_data_files on a
    PARTITIONED v2 spec. Delete files are partition-scoped — one delete
    parquet per partition tuple, each manifest entry carrying its typed
    partition struct (inherited from the target data file); the scan
    nets them; rewrite_data_files applies them into per-partition
    replacement files that keep their source's partition tuple; a
    position targeting a file outside the snapshot refuses loudly."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from onetable_spark.formats.avro_codec import read_container

    table_path = str(tmp_path / "part_del")
    src = pq.read_table(os.path.join(sf_dir, "customer.parquet"))
    for seg in ("BUILDING", "MACHINERY"):
        d = os.path.join(table_path, f"c_mktsegment={seg}")
        os.makedirs(d)
        pq.write_table(
            src.filter(pc.equal(src["c_mktsegment"], seg)),
            os.path.join(d, "f.parquet"),
        )
    schema = spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).schema
    ice = IcebergTable(spark, table_path)
    ice.init_table(
        Table(
            name="pd",
            base_path=table_path,
            table_format=TableFormat.ICEBERG,
            read_schema=schema,
            partition_fields=(
                PartitionField("c_mktsegment", PartitionTransform.VALUE),
            ),
            layout=DataLayoutStrategy.HIVE_STYLE_PARTITION,
        ),
        format_version=2,
    )
    ice.commit_overwrite(adds=inventory_from_directory(spark, table_path))

    bpath = os.path.join(table_path, "c_mktsegment=BUILDING", "f.parquet")
    mpath = os.path.join(table_path, "c_mktsegment=MACHINERY", "f.parquet")
    nb = pq.read_table(bpath).num_rows
    nm = pq.read_table(mpath).num_rows
    ice.commit_position_deletes(
        spark.createDataFrame(
            [(bpath, 0), (bpath, 1), (bpath, 2), (mpath, 0)],
            "path string, pos long",
        )
    )
    rows = {r["path"]: r for r in ice.snapshot_files().collect()}
    assert rows[bpath]["record_count"] == nb - 3
    assert rows[mpath]["record_count"] == nm - 1

    # one delete parquet per partition tuple, entries carry the struct
    dels = [
        f for f in os.listdir(os.path.join(table_path, "data"))
        if f.startswith("pos-deletes-")
    ]
    assert len(dels) == 2
    md = ice.metadata()
    snap = ice.current_snapshot_meta(md)
    _, manifests = read_container(snap["manifest-list"])
    dmf = [m for m in manifests if m.get("content") == 1]
    assert len(dmf) == 1
    _, entries = read_container(dmf[0]["manifest_path"])
    parts = sorted(
        e["data_file"]["partition"]["c_mktsegment"] for e in entries
    )
    assert parts == ["BUILDING", "MACHINERY"]

    # rewrite applies the deletes into per-partition replacements that
    # keep their source's partition tuple, and drops the delete manifests
    assert ice.rewrite_data_files() is not None
    after = ice.snapshot_files().collect()
    by_part = {
        r["partition_values"]["c_mktsegment"]: r["record_count"] for r in after
    }
    assert by_part == {"BUILDING": nb - 3, "MACHINERY": nm - 1}
    for r in after:
        seg = r["partition_values"]["c_mktsegment"]
        assert f"c_mktsegment={seg}/" in r["path"]
    assert ice.rewrite_data_files() is None

    with pytest.raises(ValueError, match="absent from the current snapshot"):
        ice.commit_position_deletes(
            spark.createDataFrame([("/nope.parquet", 0)], "path string, pos long")
        )


def test_equality_delete_commit_and_upsert(spark, sf_dir, tmp_path):
    """r12 equality-delete WRITE plane: commit_upsert publishes ONE v2
    snapshot with an eq-delete file (the new rows' keys, strict-less
    sequence rule) plus the new data files — Flink-style CDC upsert. Old
    rows with matching keys die, the new file (same sequence number) is
    untouched, chained upserts stack, commit_equality_deletes does a
    pure keyed delete, and rewrite_data_files materializes everything
    away so the default scan reads clean."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    base = str(tmp_path / "ups")
    os.makedirs(base)
    src = os.path.join(sf_dir, "region.parquet")
    shutil.copy(src, os.path.join(base, "f1.parquet"))
    schema = spark.read.parquet(src).schema
    ice = IcebergTable(spark, base)
    ice.init_table(
        Table(name="u", base_path=base, table_format=TableFormat.ICEBERG,
              read_schema=schema, layout=DataLayoutStrategy.FLAT),
        format_version=2,
    )
    from onetable_spark.sources.parquet_inventory import build_inventory

    f1 = os.path.join(base, "f1.parquet")
    ice.commit_overwrite(adds=build_inventory(spark, [f1], root=base))
    t = pq.read_table(src)
    n = t.num_rows

    def upsert_file(name: str, keys: list[int]) -> str:
        out = os.path.join(base, name)
        pq.write_table(
            t.filter(pc.is_in(t["r_regionkey"], value_set=__import__("pyarrow").array(keys))),
            out,
        )
        return out

    u1 = upsert_file("u1.parquet", [0, 2])
    ice.commit_upsert(build_inventory(spark, [u1], root=base), ["r_regionkey"])
    with pytest.raises(Exception, match="EQUALITY delete"):
        ice.snapshot_files().collect()
    rows = {
        os.path.basename(r["path"]): r["record_count"]
        for r in ice.snapshot_files(apply_equality_deletes=True).collect()
    }
    assert rows == {"f1.parquet": n - 2, "u1.parquet": 2}

    # chained upsert: key 0 again — u1 nets too (its seq < the new one)
    u2 = upsert_file("u2.parquet", [0])
    ice.commit_upsert(build_inventory(spark, [u2], root=base), ["r_regionkey"])
    rows = {
        os.path.basename(r["path"]): r["record_count"]
        for r in ice.snapshot_files(apply_equality_deletes=True).collect()
    }
    assert rows == {"f1.parquet": n - 2, "u1.parquet": 1, "u2.parquet": 1}

    # pure keyed delete
    ice.commit_equality_deletes(
        spark.createDataFrame([(4,)], "r_regionkey bigint"), ["r_regionkey"]
    )
    rows = {
        os.path.basename(r["path"]): r["record_count"]
        for r in ice.snapshot_files(apply_equality_deletes=True).collect()
    }
    assert rows == {"f1.parquet": n - 3, "u1.parquet": 1, "u2.parquet": 1}

    # the manifest entry is spec-shaped: content=2 + equality_ids
    from onetable_spark.formats.avro_codec import read_container

    md = ice.metadata()
    snap = ice.current_snapshot_meta(md)
    _, manifests = read_container(snap["manifest-list"])
    eq_entries = []
    for m in manifests:
        if m.get("content") == 1:
            _, entries = read_container(m["manifest_path"])
            eq_entries += [
                e for e in entries if e["data_file"].get("content") == 2
            ]
    assert eq_entries and all(
        list(e["data_file"]["equality_ids"] or []) for e in eq_entries
    )

    # compaction materializes the whole stack; the default scan is clean
    assert ice.rewrite_data_files(apply_equality_deletes=True) is not None
    total = sum(r["record_count"] for r in ice.snapshot_files().collect())
    assert total == (n - 3) + 1 + 1

    # guardrails: unknown/nested/unsupported key fields refuse
    with pytest.raises(ValueError, match="top-level primitive"):
        ice.commit_equality_deletes(
            spark.createDataFrame([(1,)], "x bigint"), ["nope"]
        )


def test_partitioned_upsert_scopes_equality_deletes(spark, sf_dir, tmp_path):
    """r12: commit_upsert on a PARTITIONED v2 spec — each added file's
    keys become an equality-delete file scoped to THAT file's partition
    tuple (the upsert-materialize assumption: a key never changes
    partition), the delete-manifest entry carries the typed partition
    struct + equality_ids, net counts come out right, and a pure
    commit_equality_deletes still refuses (caller tuples carry no
    partition scope)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from onetable_spark.formats.avro_codec import read_container
    from onetable_spark.sources.parquet_inventory import build_inventory

    table_path = str(tmp_path / "part_ups")
    src = pq.read_table(os.path.join(sf_dir, "customer.parquet"))
    for seg in ("BUILDING", "MACHINERY"):
        d = os.path.join(table_path, f"c_mktsegment={seg}")
        os.makedirs(d)
        pq.write_table(
            src.filter(pc.equal(src["c_mktsegment"], seg)),
            os.path.join(d, "f.parquet"),
        )
    schema = spark.read.parquet(os.path.join(sf_dir, "customer.parquet")).schema
    ice = IcebergTable(spark, table_path)
    ice.init_table(
        Table(
            name="pu", base_path=table_path, table_format=TableFormat.ICEBERG,
            read_schema=schema,
            partition_fields=(
                PartitionField("c_mktsegment", PartitionTransform.VALUE),
            ),
            layout=DataLayoutStrategy.HIVE_STYLE_PARTITION,
        ),
        format_version=2,
    )
    ice.commit_overwrite(adds=inventory_from_directory(spark, table_path))

    bdir = os.path.join(table_path, "c_mktsegment=BUILDING")
    bpath = os.path.join(bdir, "f.parquet")
    b_tbl = pq.read_table(bpath)
    nb = b_tbl.num_rows
    nm = pq.read_table(
        os.path.join(table_path, "c_mktsegment=MACHINERY", "f.parquet")
    ).num_rows
    upd_keys = sorted(b_tbl["c_custkey"].to_pylist())[:3]
    u1 = os.path.join(bdir, "u1.parquet")
    pq.write_table(
        b_tbl.filter(pc.is_in(b_tbl["c_custkey"],
                              value_set=__import__("pyarrow").array(upd_keys))),
        u1,
    )
    ice.commit_upsert(
        build_inventory(spark, [u1], root=table_path), ["c_custkey"]
    )

    by_part = {}
    for r in ice.snapshot_files(apply_equality_deletes=True).collect():
        by_part[(r["partition_values"]["c_mktsegment"],
                 os.path.basename(r["path"]))] = r["record_count"]
    assert by_part[("BUILDING", "f.parquet")] == nb - 3
    assert by_part[("MACHINERY", "f.parquet")] == nm
    assert by_part[("BUILDING", "u1.parquet")] == 3

    # the delete-manifest entry is partition-scoped + typed
    md = ice.metadata()
    snap = ice.current_snapshot_meta(md)
    _, manifests = read_container(snap["manifest-list"])
    eq_entries = []
    for m in manifests:
        if m.get("content") == 1:
            _, entries = read_container(m["manifest_path"])
            eq_entries += [
                e for e in entries if e["data_file"].get("content") == 2
            ]
    assert len(eq_entries) == 1
    assert eq_entries[0]["data_file"]["partition"] == {
        "c_mktsegment": "BUILDING"
    }
    assert list(eq_entries[0]["data_file"]["equality_ids"])

    with pytest.raises(ValueError, match="partition scope"):
        ice.commit_equality_deletes(
            spark.createDataFrame([(upd_keys[0],)], "c_custkey bigint"),
            ["c_custkey"],
        )


def test_branches_tags_and_write_audit_publish(spark, sf_dir, tmp_path):
    """r12 refs: a snapshot staged on a branch (commit_overwrite(
    branch=...)) is INVISIBLE to main until publish_branch fast-forwards
    it (the WAP pattern); tags are immutable audit marks; expiry keeps
    every ref'd snapshot; drop_ref releases it."""
    base = str(tmp_path / "wap")
    os.makedirs(base)
    src = os.path.join(sf_dir, "region.parquet")
    shutil.copy(src, os.path.join(base, "f1.parquet"))
    schema = spark.read.parquet(src).schema
    ice = IcebergTable(spark, base)
    ice.init_table(
        Table(name="w", base_path=base, table_format=TableFormat.ICEBERG,
              read_schema=schema, layout=DataLayoutStrategy.FLAT)
    )
    from onetable_spark.sources.parquet_inventory import build_inventory

    f1 = os.path.join(base, "f1.parquet")
    ice.commit_overwrite(adds=build_inventory(spark, [f1], root=base))
    n = spark.read.parquet(src).count()
    main_snap = ice.metadata()["current-snapshot-id"]

    # tag the audited state
    ice.create_tag("v1.0")
    assert ice.resolve_ref("v1.0") == main_snap
    with pytest.raises(ValueError, match="immutable"):
        ice.create_tag("v1.0")

    # stage a second file on a branch: main must NOT move
    shutil.copy(src, os.path.join(base, "f2.parquet"))
    staged = ice.commit_overwrite(
        adds=build_inventory(spark, [os.path.join(base, "f2.parquet")], root=base),
        branch="audit",
    )
    md = ice.metadata()
    assert md["current-snapshot-id"] == main_snap
    assert ice.resolve_ref("audit") == staged
    # main readers see 1 file; the branch sees 2
    assert ice.snapshot_files().count() == 1
    branch_rows = ice.snapshot_files(ref="audit")
    assert branch_rows.count() == 2
    assert sum(r["record_count"] for r in branch_rows.collect()) == 2 * n
    assert ice.snapshot_files(ref="main").count() == 1

    # expiry keeps ref'd snapshots even past the horizon
    import time as _time

    ice.commit_overwrite(properties={"touch": "1"},
                         expire_older_than_millis=int(_time.time() * 1000) + 10_000)
    ids = {s["snapshot-id"] for s in ice.metadata()["snapshots"]}
    assert staged in ids and main_snap in ids  # branch + tag pinned them

    # publish: main fast-forwards to the audited snapshot
    assert ice.publish_branch("audit") == staged
    assert ice.snapshot_files().count() == 2
    ice.drop_ref("audit")
    with pytest.raises(ValueError, match="no branch or tag"):
        ice.resolve_ref("audit")
    # the tag still time-travels to the pre-publish state
    assert ice.snapshot_files(ref="v1.0").count() == 1

    with pytest.raises(ValueError, match="implicit current branch"):
        ice.create_branch("main")


def test_compact_manifests_folds_v2_with_explicit_seqs(spark, sf_dir, tmp_path):
    """r12: compact_manifests (Iceberg rewrite_manifests) on a v2 table —
    data manifests fold into sharded EXISTING manifests whose entries
    keep their ORIGINAL data sequence numbers explicitly, delete
    manifests ride verbatim, so position deletes keep applying
    bit-identically (inherited seqs would re-scope them off); the
    append path's 100-manifest guard then accepts new commits."""
    from onetable_spark.formats.avro_codec import read_container
    from onetable_spark.sources.parquet_inventory import build_inventory

    base = str(tmp_path / "cm")
    os.makedirs(base)
    src = os.path.join(sf_dir, "region.parquet")
    schema = spark.read.parquet(src).schema
    ice = IcebergTable(spark, base)
    ice.init_table(
        Table(name="cm", base_path=base, table_format=TableFormat.ICEBERG,
              read_schema=schema, layout=DataLayoutStrategy.FLAT),
        format_version=2,
    )
    for i in range(4):
        f = os.path.join(base, f"f{i}.parquet")
        shutil.copy(src, f)
        ice.commit_overwrite(adds=build_inventory(spark, [f], root=base))
    n = spark.read.parquet(src).count()
    # position-delete the first two rows of f0 (delete seq > all data seqs)
    ice.commit_position_deletes(
        spark.createDataFrame(
            [(os.path.join(base, "f0.parquet"), 0),
             (os.path.join(base, "f0.parquet"), 1)],
            "path string, pos long",
        )
    )

    def counts():
        return {
            os.path.basename(r["path"]): r["record_count"]
            for r in ice.snapshot_files().collect()
        }

    pre = counts()
    assert pre["f0.parquet"] == n - 2

    assert ice.compact_manifests(threshold=2) is not None
    snap = ice.current_snapshot_meta(ice.metadata())
    _, manifests = read_container(snap["manifest-list"])
    data = [m for m in manifests if m.get("content", 0) == 0]
    dels = [m for m in manifests if m.get("content") == 1]
    assert len(data) == 1 and len(dels) == 1  # folded + carried verbatim
    assert data[0]["existing_files_count"] == 4
    # the folded manifest's floor is the OLDEST carried seq, not the new one
    assert data[0]["min_sequence_number"] < data[0]["sequence_number"]
    # deletes still net identically — explicit original seqs
    assert counts() == pre

    # the guard accepts appends again; below-threshold folding is a no-op
    f = os.path.join(base, "f9.parquet")
    shutil.copy(src, f)
    ice.commit_overwrite(adds=build_inventory(spark, [f], root=base))
    assert counts()["f9.parquet"] == n
    assert ice.compact_manifests(threshold=50) is None


def _init_iceberg(spark, base, schema, format_version=1):
    ice = IcebergTable(spark, base)
    ice.init_table(
        Table(name="t", base_path=base, table_format=TableFormat.ICEBERG,
              read_schema=schema, layout=DataLayoutStrategy.FLAT),
        format_version=format_version,
    )
    return ice


def test_position_deletes_and_rewrite_emit_no_type_hint_warning(spark, sf_dir, tmp_path):
    """No pandas function on the position-delete commit or the
    rewrite_data_files path carries partial type hints, so neither emits
    pyspark's eval-type inference warning."""
    import warnings

    base = str(tmp_path / "hints")
    os.makedirs(base)
    src = os.path.join(sf_dir, "region.parquet")
    f1 = os.path.join(base, "f1.parquet")
    shutil.copy(src, f1)
    ice = _init_iceberg(spark, base, spark.read.parquet(src).schema, format_version=2)
    ice.commit_overwrite(adds=build_inventory(spark, [f1], root=base))
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        ice.commit_position_deletes(
            spark.createDataFrame([(f1, 0), (f1, 2)], "path string, pos long")
        )
        assert ice.rewrite_data_files() is not None
    assert not [
        w for w in caught if "Cannot infer the eval type" in str(w.message)
    ]


def test_publish_branch_refuses_non_fast_forward(spark, sf_dir, tmp_path):
    base = str(tmp_path / "ff")
    os.makedirs(base)
    src = os.path.join(sf_dir, "region.parquet")
    shutil.copy(src, os.path.join(base, "f1.parquet"))
    schema = spark.read.parquet(src).schema
    ice = _init_iceberg(spark, base, schema)
    ice.commit_overwrite(
        adds=build_inventory(spark, [os.path.join(base, "f1.parquet")], root=base)
    )

    # stage a branch off the current main
    shutil.copy(src, os.path.join(base, "f2.parquet"))
    staged = ice.commit_overwrite(
        adds=build_inventory(spark, [os.path.join(base, "f2.parquet")], root=base),
        branch="audit",
    )

    # main ADVANCES with a real data commit → the branch head no longer
    # descends from main → fast-forward must refuse
    shutil.copy(src, os.path.join(base, "f3.parquet"))
    ice.commit_overwrite(
        adds=build_inventory(spark, [os.path.join(base, "f3.parquet")], root=base)
    )
    with pytest.raises(ValueError, match="not an ancestor"):
        ice.publish_branch("audit")
    # the deliberate override still works (cherry-pick-style replace)
    assert ice.publish_branch("audit", force=True) == staged
    assert ice.metadata()["current-snapshot-id"] == staged


def test_properties_only_commit_mints_no_snapshot(spark, sf_dir, tmp_path):
    base = str(tmp_path / "props")
    os.makedirs(base)
    src = os.path.join(sf_dir, "region.parquet")
    shutil.copy(src, os.path.join(base, "f1.parquet"))
    schema = spark.read.parquet(src).schema
    ice = _init_iceberg(spark, base, schema)
    snap = ice.commit_overwrite(
        adds=build_inventory(spark, [os.path.join(base, "f1.parquet")], root=base)
    )
    n_before = len(ice.metadata()["snapshots"])
    returned = ice.commit_overwrite(properties={"touch": "1"})
    md = ice.metadata()
    assert returned == snap  # the still-current snapshot id
    assert len(md["snapshots"]) == n_before  # no snapshot minted
    assert md["current-snapshot-id"] == snap
    assert md["properties"]["touch"] == "1"
    # ...and a WAP publish still fast-forwards across the touch commit
    shutil.copy(src, os.path.join(base, "f2.parquet"))
    staged = ice.commit_overwrite(
        adds=build_inventory(spark, [os.path.join(base, "f2.parquet")], root=base),
        branch="audit",
    )
    ice.commit_overwrite(properties={"touch": "2"})
    assert ice.publish_branch("audit") == staged


def test_upsert_commit_path_has_manifest_guard(spark, sf_dir, tmp_path):
    from onetable_spark.formats.avro_codec import read_container

    base = str(tmp_path / "guard")
    os.makedirs(base)
    src = os.path.join(sf_dir, "region.parquet")
    shutil.copy(src, os.path.join(base, "f1.parquet"))
    schema = spark.read.parquet(src).schema
    ice = _init_iceberg(spark, base, schema, format_version=2)
    ice.commit_overwrite(
        adds=build_inventory(spark, [os.path.join(base, "f1.parquet")], root=base)
    )
    # inflate the CARRIED manifest list to the guard by editing the
    # current snapshot's manifest list (cheaper than 100 real commits)
    md = ice.metadata()
    snap = ice.current_snapshot_meta(md)
    from onetable_spark.formats.avro_codec import write_container
    from onetable_spark.formats.iceberg import MANIFEST_LIST_SCHEMA_V2

    _, manifests = read_container(snap["manifest-list"])
    write_container(
        snap["manifest-list"], MANIFEST_LIST_SCHEMA_V2, manifests * 100
    )
    shutil.copy(src, os.path.join(base, "f2.parquet"))
    up_adds = build_inventory(
        spark, [os.path.join(base, "f2.parquet")], root=base
    )
    with pytest.raises(ValueError, match="manifest guard"):
        ice.commit_upsert(up_adds, key_fields=["r_regionkey"])


def test_iceberg_overwrite_emits_deleted_entries(spark, sf_dir, tmp_path):
    """ADVICE(medium): removed files appear as STATUS_DELETED entries, so a
    downstream IcebergSource sees the deletions incrementally."""
    table_path = str(tmp_path / "ice")
    os.makedirs(table_path)
    for n in ("a", "b"):
        shutil.copy(os.path.join(sf_dir, "region.parquet"), os.path.join(table_path, f"{n}.parquet"))
    schema = spark.read.parquet(table_path).schema
    ice = IcebergTable(spark, table_path)
    ice.init_table(
        Table(name="ice", base_path=table_path, table_format=TableFormat.ICEBERG, read_schema=schema)
    )
    inv = inventory_from_directory(spark, table_path)
    ice.commit_overwrite(adds=inv, schema=schema)

    doomed = inv.orderBy("path").limit(1)
    sid = ice.commit_overwrite(removes=doomed, schema=schema)

    change = ice.changes_for_snapshot(sid)
    removed = [r["path"] for r in change.diff.removed.collect()]
    assert removed == [doomed.first()["path"]]
    # live snapshot no longer contains it
    live = {r["path"] for r in ice.snapshot_files().collect()}
    assert doomed.first()["path"] not in live and len(live) == 1


def test_iceberg_id_keyed_schema_and_spec_lookup():
    """ADVICE(medium): schema-id / spec-id are identifiers, not positions."""
    md = {
        "schemas": [
            {"schema-id": 7, "type": "struct", "fields": [{"id": 1, "name": "x", "required": False, "type": "long"}]},
            {"schema-id": 2, "type": "struct", "fields": [{"id": 1, "name": "old", "required": False, "type": "int"}]},
        ],
        "current-schema-id": 7,
        "partition-specs": [
            {"spec-id": 4, "fields": [{"name": "p", "transform": "identity", "source-id": 1, "field-id": 1000}]},
            {"spec-id": 0, "fields": []},
        ],
        "default-spec-id": 4,
    }
    assert IcebergTable._schema_for(md)["fields"][0]["name"] == "x"
    assert IcebergTable._spec_for(md)[0]["name"] == "p"
    with pytest.raises(ValueError):
        IcebergTable._schema_for({**md, "current-schema-id": 99})


def test_iceberg_metadata_version_claim_is_exclusive(spark, sf_dir, tmp_path):
    """ADVICE(medium): two committers racing from the same base version —
    the second claim of v(N+1) must fail, not silently clobber."""
    table_path = str(tmp_path / "race")
    os.makedirs(table_path)
    shutil.copy(os.path.join(sf_dir, "region.parquet"), os.path.join(table_path, "r.parquet"))
    schema = spark.read.parquet(table_path).schema
    ice = IcebergTable(spark, table_path)
    ice.init_table(
        Table(name="race", base_path=table_path, table_format=TableFormat.ICEBERG, read_schema=schema)
    )
    md = ice.metadata()
    v = ice.current_version()
    ice._write_metadata(v + 1, md)
    with pytest.raises(CommitConflictError):
        ice._write_metadata(v + 1, md)
    # commit_overwrite re-reads and lands on the NEXT version instead
    sid = ice.commit_overwrite(adds=inventory_from_directory(spark, table_path), schema=schema)
    assert ice.current_snapshot_meta()["snapshot-id"] == sid
    assert ice.current_version() == v + 2
