"""End-to-end sync matrix — the ITOneTableClient equivalence oracle.

Write data in format A, sync metadata to formats B/C, then read the SAME
files through each format's snapshot and assert row-identical DataFrames
(checkDatasetEquivalence, ITOneTableClient.java:716-813)."""

from __future__ import annotations

import json
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from onetable_spark.formats.delta import DeltaLog
from onetable_spark.formats.hudi import HudiTimeline, instant_to_millis
from onetable_spark.formats.iceberg import IcebergTable
from onetable_spark.model import SyncMode, SyncStatus, Table, TableFormat
from onetable_spark.sources.parquet_inventory import build_inventory, inventory_from_directory
from onetable_spark.sync import SyncClient, source_for, target_for


def read_via(spark, fmt, path):
    if fmt == TableFormat.DELTA:
        files = DeltaLog(spark, path).snapshot_files()
    elif fmt == TableFormat.HUDI:
        files = HudiTimeline(spark, path).snapshot_files()
    else:
        files = IcebergTable(spark, path).snapshot_files()
    paths = [r["path"] for r in files.select("path").collect()]
    return spark.read.parquet(*paths) if paths else None


@pytest.fixture()
def seeded_delta(spark, sf_dir, tmp_path):
    """A Delta table at tmp with one nation parquet file committed."""
    table_path = str(tmp_path / "tbl")
    os.makedirs(table_path)
    shutil.copy(os.path.join(sf_dir, "nation.parquet"), os.path.join(table_path, "f1.parquet"))
    schema = spark.read.parquet(table_path).schema
    log = DeltaLog(spark, table_path)
    log.init_table(
        Table(
            name="tbl",
            base_path=table_path,
            table_format=TableFormat.DELTA,
            read_schema=schema,
        )
    )
    inv = inventory_from_directory(spark, table_path)
    log.commit(adds=inv)
    return table_path


def test_full_sync_delta_to_iceberg_and_hudi(spark, seeded_delta):
    table_path = seeded_delta
    client = SyncClient(spark)
    source = source_for(spark, TableFormat.DELTA, table_path)
    targets = [
        target_for(spark, TableFormat.ICEBERG, table_path),
        target_for(spark, TableFormat.HUDI, table_path),
    ]
    results = client.sync(source, targets)
    assert all(r.status == SyncStatus.SUCCESS for r in results.values())
    assert results[TableFormat.ICEBERG].mode == SyncMode.FULL

    base = read_via(spark, TableFormat.DELTA, table_path)
    for fmt in (TableFormat.ICEBERG, TableFormat.HUDI):
        via = read_via(spark, fmt, table_path)
        assert via.count() == base.count()
        assert via.exceptAll(base).count() == 0 and base.exceptAll(via).count() == 0

    # schema descriptor made it across
    ice_desc = IcebergTable(spark, table_path).table_descriptor()
    assert [f.name for f in ice_desc.read_schema.fields] == base.columns


def test_incremental_sync_after_full(spark, sf_dir, seeded_delta):
    table_path = seeded_delta
    client = SyncClient(spark)
    source = source_for(spark, TableFormat.DELTA, table_path)
    targets = [
        target_for(spark, TableFormat.ICEBERG, table_path),
        target_for(spark, TableFormat.HUDI, table_path),
    ]
    r1 = client.sync(source, targets)
    assert all(r.status == SyncStatus.SUCCESS for r in r1.values())

    # new commit in the source: add a second file (region as "new data")
    time.sleep(0.05)
    new_file = os.path.join(table_path, "f2.parquet")
    shutil.copy(os.path.join(sf_dir, "nation.parquet"), new_file)
    log = DeltaLog(spark, table_path)
    log.commit(adds=build_inventory(spark, [new_file], root=table_path))

    r2 = client.sync(source, targets)
    assert all(r.status == SyncStatus.SUCCESS for r in r2.values())
    # second round used the incremental path
    assert all(r.mode == SyncMode.INCREMENTAL for r in r2.values())

    base = read_via(spark, TableFormat.DELTA, table_path)
    assert base.count() == 50  # nation twice
    for fmt in (TableFormat.ICEBERG, TableFormat.HUDI):
        via = read_via(spark, fmt, table_path)
        assert via.count() == base.count()
        assert via.exceptAll(base).count() == 0

    # watermarks advanced on both targets
    for t in targets:
        assert t.get_sync_metadata().last_instant_synced_millis > 0


def test_remove_propagates_incrementally(spark, sf_dir, seeded_delta):
    table_path = seeded_delta
    client = SyncClient(spark)
    source = source_for(spark, TableFormat.DELTA, table_path)
    targets = [target_for(spark, TableFormat.ICEBERG, table_path)]
    client.sync(source, targets)

    log = DeltaLog(spark, table_path)
    time.sleep(0.05)
    first = log.snapshot_files().first()["path"]
    log.commit(removes=log.snapshot_files().filter(F.col("path") == first))
    r = client.sync(source, targets)
    assert r[TableFormat.ICEBERG].status == SyncStatus.SUCCESS

    assert read_via(spark, TableFormat.DELTA, table_path) is None
    assert read_via(spark, TableFormat.ICEBERG, table_path) is None


def test_parquet_source_full_sync(spark, sf_dir, tmp_path):
    """Plain parquet directory → Delta (the M0 slice of SURVEY §7)."""
    table_path = str(tmp_path / "plain")
    os.makedirs(table_path)
    shutil.copy(os.path.join(sf_dir, "region.parquet"), os.path.join(table_path, "r.parquet"))
    client = SyncClient(spark)
    source = source_for(spark, TableFormat.PARQUET, table_path)
    results = client.sync(source, [target_for(spark, TableFormat.DELTA, table_path)])
    assert results[TableFormat.DELTA].status == SyncStatus.SUCCESS
    via = read_via(spark, TableFormat.DELTA, table_path)
    direct = spark.read.parquet(os.path.join(table_path, "r.parquet"))
    assert via.exceptAll(direct).count() == 0 and via.count() == direct.count()


def test_hudi_roundtrip_source(spark, sf_dir, tmp_path):
    """Hudi as SOURCE → Delta target (reverse direction)."""
    table_path = str(tmp_path / "hsrc")
    os.makedirs(table_path)
    shutil.copy(os.path.join(sf_dir, "supplier.parquet"), os.path.join(table_path, "s.parquet"))
    schema = spark.read.parquet(table_path).schema
    tl = HudiTimeline(spark, table_path)
    tl.init_table(
        Table(
            name="hsrc",
            base_path=table_path,
            table_format=TableFormat.HUDI,
            read_schema=schema,
        )
    )
    tl.commit(adds=inventory_from_directory(spark, table_path), schema=schema)

    client = SyncClient(spark)
    results = client.sync(
        source_for(spark, TableFormat.HUDI, table_path),
        [target_for(spark, TableFormat.DELTA, table_path)],
    )
    assert results[TableFormat.DELTA].status == SyncStatus.SUCCESS
    base = read_via(spark, TableFormat.HUDI, table_path)
    via = read_via(spark, TableFormat.DELTA, table_path)
    assert via.exceptAll(base).count() == 0 and via.count() == base.count()


def test_schema_evolution_sync(spark, sf_dir, tmp_path):
    """Legal schema evolution propagates to the target; illegal evolution
    is rejected before anything commits (K6 legality gate)."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from onetable_spark.model import Snapshot, TableMetadata

    table_path = str(tmp_path / "evolve")
    os.makedirs(table_path)
    shutil.copy(os.path.join(sf_dir, "region.parquet"), os.path.join(table_path, "r.parquet"))
    schema_v1 = spark.read.parquet(table_path).schema
    inv = inventory_from_directory(spark, table_path)

    def snap(schema):
        return Snapshot(
            table=Table(
                name="evolve",
                base_path=table_path,
                table_format=TableFormat.DELTA,
                read_schema=schema,
            ),
            files=inv,
            version="1",
        )

    target = target_for(spark, TableFormat.DELTA, table_path)
    target.sync_snapshot(snap(schema_v1), TableMetadata(last_instant_synced_millis=1))

    # legal: add a nullable column
    schema_v2 = T.StructType(list(schema_v1.fields) + [T.StructField("note", T.StringType(), True)])
    target.sync_snapshot(snap(schema_v2), TableMetadata(last_instant_synced_millis=2))
    assert DeltaLog(spark, table_path).table_descriptor().read_schema == schema_v2

    # illegal: narrow a column type
    narrowed = T.StructType(
        [
            T.StructField(f.name, T.ShortType(), f.nullable)
            if f.dataType == T.IntegerType()
            else f
            for f in schema_v2.fields
        ]
    )
    assert narrowed != schema_v2
    with _pytest.raises(ValueError, match="illegal type evolution"):
        target.sync_snapshot(snap(narrowed), TableMetadata(last_instant_synced_millis=3))
    # target unchanged after the rejected sync
    assert DeltaLog(spark, table_path).table_descriptor().read_schema == schema_v2


def test_iceberg_corrupt_snapshot_recovery(spark, sf_dir, seeded_delta):
    """K12: a missing manifest list rolls the Iceberg target back, clears
    the watermark, and the next sync recovers via a FULL snapshot."""
    table_path = seeded_delta
    client = SyncClient(spark)
    source = source_for(spark, TableFormat.DELTA, table_path)
    target = target_for(spark, TableFormat.ICEBERG, table_path)
    r1 = client.sync(source, [target])
    assert r1[TableFormat.ICEBERG].status == SyncStatus.SUCCESS

    # corrupt: delete the current snapshot's manifest list
    ice = IcebergTable(spark, table_path)
    snap = ice.current_snapshot_meta()
    os.remove(snap["manifest-list"])

    # watermark read triggers recovery → planner must fall back to FULL
    assert target.get_sync_metadata() is None
    r2 = client.sync(source, [target])
    assert r2[TableFormat.ICEBERG].status == SyncStatus.SUCCESS
    assert r2[TableFormat.ICEBERG].mode == SyncMode.FULL

    base = read_via(spark, TableFormat.DELTA, table_path)
    via = read_via(spark, TableFormat.ICEBERG, table_path)
    assert via.count() == base.count() and via.exceptAll(base).count() == 0


def test_serial_and_parallel_target_fanout_equivalent(spark, sf_dir, tmp_path):
    """parallel_targets=True (default) and =False must produce identical
    table state on every target — full then incremental round on each."""
    from onetable_spark.sync import SyncConfig

    states = {}
    for parallel in (False, True):
        table_path = str(tmp_path / f"tbl_{parallel}")
        os.makedirs(table_path)
        shutil.copy(os.path.join(sf_dir, "nation.parquet"), os.path.join(table_path, "f1.parquet"))
        schema = spark.read.parquet(table_path).schema
        log = DeltaLog(spark, table_path)
        log.init_table(
            Table(
                name="tbl",
                base_path=table_path,
                table_format=TableFormat.DELTA,
                read_schema=schema,
            )
        )
        log.commit(adds=inventory_from_directory(spark, table_path))
        client = SyncClient(spark, SyncConfig(parallel_targets=parallel))
        source = source_for(spark, TableFormat.DELTA, table_path)
        targets = [
            target_for(spark, TableFormat.ICEBERG, table_path),
            target_for(spark, TableFormat.HUDI, table_path),
        ]
        r1 = client.sync(source, targets)
        assert all(r.status == SyncStatus.SUCCESS for r in r1.values())
        time.sleep(0.05)
        f2 = os.path.join(table_path, "f2.parquet")
        shutil.copy(os.path.join(sf_dir, "region.parquet"), f2)
        log.commit(adds=build_inventory(spark, [f2], root=table_path))
        r2 = client.sync(source, targets)
        assert all(r.status == SyncStatus.SUCCESS for r in r2.values())
        assert all(r.mode == SyncMode.INCREMENTAL for r in r2.values())
        states[parallel] = {
            fmt: sorted(
                (os.path.basename(r["path"]), r["record_count"])
                for r in read_files(spark, fmt, table_path)
            )
            for fmt in (TableFormat.ICEBERG, TableFormat.HUDI)
        }
    assert states[False] == states[True]
    assert all(len(v) == 2 for v in states[False].values())  # f1 + f2 on each target


def read_files(spark, fmt, path):
    files = (
        HudiTimeline(spark, path).snapshot_files()
        if fmt == TableFormat.HUDI
        else IcebergTable(spark, path).snapshot_files()
    )
    return files.select("path", "record_count").collect()


class _FailingTarget:
    """TargetClient whose every sync op raises — per-target isolation probe
    (RunSync.java:169-171: one bad target must not poison its siblings)."""

    def __init__(self, fmt):
        self.table_format = fmt

    def get_sync_metadata(self):
        return None

    def sync_snapshot(self, snapshot, metadata):
        raise RuntimeError("target down")

    def sync_change(self, change, metadata):
        raise RuntimeError("target down")


def test_failing_target_isolated_under_parallel_fanout(spark, seeded_delta):
    """With the concurrent fan-out, a raising target yields SyncResult
    ERROR for itself only; the healthy sibling completes FULL sync."""
    table_path = seeded_delta
    client = SyncClient(spark)
    source = source_for(spark, TableFormat.DELTA, table_path)
    targets = [
        target_for(spark, TableFormat.ICEBERG, table_path),
        _FailingTarget(TableFormat.HUDI),
    ]
    results = client.sync(source, targets)
    assert results[TableFormat.ICEBERG].status == SyncStatus.SUCCESS
    assert results[TableFormat.HUDI].status == SyncStatus.ERROR
    assert "target down" in results[TableFormat.HUDI].error
    via = read_via(spark, TableFormat.ICEBERG, table_path)
    assert via is not None and via.count() == 25


def _advance_source(spark, sf_dir, table_path, name):
    """One more Delta commit: copy nation.parquet in as a new data file."""
    time.sleep(0.05)
    f = os.path.join(table_path, name)
    shutil.copy(os.path.join(sf_dir, "nation.parquet"), f)
    DeltaLog(spark, table_path).commit(adds=build_inventory(spark, [f], root=table_path))


def _assert_all_reads_equivalent(spark, table_path, fmts):
    base = read_via(spark, TableFormat.DELTA, table_path)
    for fmt in fmts:
        via = read_via(spark, fmt, table_path)
        assert via.count() == base.count()
        assert via.exceptAll(base).count() == 0 and base.exceptAll(via).count() == 0


def test_out_of_sync_targets_converge_in_one_sync(spark, sf_dir, seeded_delta):
    """ITOneTableClient.java:549-596 parity (testOutOfSyncIncrementalSyncs):
    a target added LATE — after the source has advanced past the other
    target's watermark — must converge in the same sync() call that
    increments the current target: the late one through the FULL-bootstrap
    fallback (no sync metadata), the stale one through incremental replay,
    and every format's read must be row-identical afterwards."""
    table_path = seeded_delta
    client = SyncClient(spark)
    source = source_for(spark, TableFormat.DELTA, table_path)
    iceberg = target_for(spark, TableFormat.ICEBERG, table_path)
    hudi = target_for(spark, TableFormat.HUDI, table_path)

    # commit 1 synced to Iceberg ONLY — the Hudi target does not exist yet
    r1 = client.sync(source, [iceberg])
    assert r1[TableFormat.ICEBERG].status == SyncStatus.SUCCESS

    # source advances 2 commits: Iceberg is now stale by 2, Hudi by all 3
    _advance_source(spark, sf_dir, table_path, "f2.parquet")
    _advance_source(spark, sf_dir, table_path, "f3.parquet")

    # ONE sync over both: Iceberg replays the 2 missed commits
    # incrementally, Hudi (no watermark) falls back to a FULL bootstrap
    r2 = client.sync(source, [iceberg, hudi])
    assert r2[TableFormat.ICEBERG].status == SyncStatus.SUCCESS
    assert r2[TableFormat.ICEBERG].mode == SyncMode.INCREMENTAL
    assert r2[TableFormat.HUDI].status == SyncStatus.SUCCESS
    assert r2[TableFormat.HUDI].mode == SyncMode.FULL
    _assert_all_reads_equivalent(spark, table_path, (TableFormat.ICEBERG, TableFormat.HUDI))

    # watermarks converged to the same source head
    assert (
        iceberg.get_sync_metadata().last_instant_synced_millis
        == hudi.get_sync_metadata().last_instant_synced_millis
    )

    # one more source commit: BOTH targets now increment from the shared
    # watermark in a single pass
    _advance_source(spark, sf_dir, table_path, "f4.parquet")
    r3 = client.sync(source, [iceberg, hudi])
    assert all(res.status == SyncStatus.SUCCESS for res in r3.values())
    assert all(res.mode == SyncMode.INCREMENTAL for res in r3.values())
    _assert_all_reads_equivalent(spark, table_path, (TableFormat.ICEBERG, TableFormat.HUDI))


def test_lagging_target_catches_up_while_current_target_prunes(spark, sf_dir, seeded_delta):
    """The mixed-staleness incremental batch (G5 earliest-watermark replay
    + G6 per-target commit pruning, OneTableClient.java:248-266 /
    TableFormatSync.java:135-144): Iceberg stays current for two commits
    that Hudi never sees, then one sync() over both must replay from
    HUDI's older watermark while Iceberg SKIPS the commits it already
    applied — converging both without re-applying anything."""
    table_path = seeded_delta
    client = SyncClient(spark)
    source = source_for(spark, TableFormat.DELTA, table_path)
    iceberg = target_for(spark, TableFormat.ICEBERG, table_path)
    hudi = target_for(spark, TableFormat.HUDI, table_path)

    # both targets bootstrapped at commit 1
    r1 = client.sync(source, [iceberg, hudi])
    assert all(res.status == SyncStatus.SUCCESS for res in r1.values())

    # two source commits synced to Iceberg ONLY — Hudi lags by 2
    _advance_source(spark, sf_dir, table_path, "f2.parquet")
    _advance_source(spark, sf_dir, table_path, "f3.parquet")
    r2 = client.sync(source, [iceberg])
    assert r2[TableFormat.ICEBERG].mode == SyncMode.INCREMENTAL

    # a third commit neither target has seen
    _advance_source(spark, sf_dir, table_path, "f4.parquet")

    # ONE sync over both: the change stream replays from Hudi's watermark
    # (3 commits); Iceberg's pruning applies only the newest one
    ice_mark_before = iceberg.get_sync_metadata().last_instant_synced_millis
    r3 = client.sync(source, [iceberg, hudi])
    assert all(res.status == SyncStatus.SUCCESS for res in r3.values())
    assert all(res.mode == SyncMode.INCREMENTAL for res in r3.values())
    _assert_all_reads_equivalent(spark, table_path, (TableFormat.ICEBERG, TableFormat.HUDI))
    marks = {
        fmt: t.get_sync_metadata().last_instant_synced_millis
        for fmt, t in ((TableFormat.ICEBERG, iceberg), (TableFormat.HUDI, hudi))
    }
    assert marks[TableFormat.ICEBERG] == marks[TableFormat.HUDI] > ice_mark_before


def _complete_pending_commit(tl: HudiTimeline, instant: str, rel_path: str, size: int, rows: int):
    """Finish a previously-pending instant by hand (a late-landing writer)."""
    meta = {
        "partitionToWriteStats": {
            "": [
                {
                    "fileId": "late-file-id",
                    "path": rel_path,
                    "prevCommit": "null",
                    "numWrites": rows,
                    "numInserts": rows,
                    "totalWriteBytes": size,
                    "fileSizeInBytes": size,
                    "partitionPath": "",
                    "columnStats": None,
                }
            ]
        },
        "compacted": False,
        "operationType": "UPSERT",
        "extraMetadata": {},
    }
    with open(os.path.join(tl.hoodie_path, f"{instant}.commit"), "w") as f:
        json.dump(meta, f)
    for leftover in (f"{instant}.commit.requested", f"{instant}.inflight"):
        p = os.path.join(tl.hoodie_path, leftover)
        if os.path.exists(p):
            os.remove(p)


def test_incremental_sync_preserves_inflight_commits(spark, sf_dir, seeded_hudi):
    """ADVICE(high): the first incremental sync must NOT wipe the pending-
    commit watermark; a commit that completes after the watermark advances
    is still synced on the next round."""
    table_path = seeded_hudi
    tl = HudiTimeline(spark, table_path)

    # a writer starts a commit... and stalls (requested + inflight markers)
    pending_instant = tl.new_instant()
    open(os.path.join(tl.hoodie_path, f"{pending_instant}.commit.requested"), "w").close()
    open(os.path.join(tl.hoodie_path, f"{pending_instant}.inflight"), "w").close()

    client = SyncClient(spark)
    source = source_for(spark, TableFormat.HUDI, table_path)
    target = target_for(spark, TableFormat.DELTA, table_path)

    r1 = client.sync(source, [target])
    assert r1[TableFormat.DELTA].status == SyncStatus.SUCCESS
    meta1 = target.get_sync_metadata()
    assert instant_to_millis(pending_instant) in meta1.inflight_commits

    # the watermark advances past the stalled instant via a newer commit
    time.sleep(0.05)
    new_file = os.path.join(table_path, "f2.parquet")
    shutil.copy(os.path.join(sf_dir, "nation.parquet"), new_file)
    tl.commit(adds=build_inventory(spark, [new_file], root=table_path))

    r2 = client.sync(source, [target])
    assert r2[TableFormat.DELTA].status == SyncStatus.SUCCESS
    meta2 = target.get_sync_metadata()
    # the incremental path must carry the still-pending instant forward
    assert instant_to_millis(pending_instant) in meta2.inflight_commits
    assert meta2.last_instant_synced_millis > meta1.last_instant_synced_millis

    # the stalled writer finally lands — with its ORIGINAL (old) instant
    late_file = os.path.join(table_path, "f3.parquet")
    shutil.copy(os.path.join(sf_dir, "nation.parquet"), late_file)
    _complete_pending_commit(
        tl, pending_instant, "f3.parquet", os.path.getsize(late_file), 25
    )

    r3 = client.sync(source, [target])
    assert r3[TableFormat.DELTA].status == SyncStatus.SUCCESS
    from onetable_spark.formats.delta import DeltaLog

    delta_paths = {r["path"] for r in DeltaLog(spark, table_path).snapshot_files().collect()}
    assert late_file in delta_paths, "late-completing pending commit was lost"
    # once synced, it is no longer tracked as inflight
    assert instant_to_millis(pending_instant) not in target.get_sync_metadata().inflight_commits
