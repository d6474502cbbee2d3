"""Round-2 regression tests for the judge/advisor findings.

Covers: inflight-commit carry-through on incremental syncs (TableFormatSync
pendingCommits parity), Iceberg STATUS_DELETED manifests feeding incremental
consumers, id-keyed schema/spec lookup on evolved external tables, atomic
metadata version claims, and Hudi epoch-millis file timestamps.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pytest
from pyspark.sql import functions as F

from onetable_spark.formats.hudi import HudiTimeline, instant_to_millis
from onetable_spark.formats.iceberg import CommitConflictError, IcebergTable
from onetable_spark.model import SyncStatus, Table, TableFormat
from onetable_spark.sources.parquet_inventory import build_inventory, inventory_from_directory
from onetable_spark.sync import SyncClient, source_for, target_for


@pytest.fixture()
def seeded_hudi(spark, sf_dir, tmp_path):
    """A Hudi COW table with one committed parquet file."""
    table_path = str(tmp_path / "h")
    os.makedirs(table_path)
    shutil.copy(os.path.join(sf_dir, "nation.parquet"), os.path.join(table_path, "f1.parquet"))
    schema = spark.read.parquet(table_path).schema
    tl = HudiTimeline(spark, table_path)
    tl.init_table(
        Table(name="h", base_path=table_path, table_format=TableFormat.HUDI, read_schema=schema)
    )
    tl.commit(adds=inventory_from_directory(spark, table_path), schema=schema)
    return table_path


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


def test_no_driver_collect_in_query_paths():
    """Scale guard: no unbounded driver materialization in operator/query
    code. A site must carry a ``# driver-ok:`` justification (same or
    preceding line) AND fit the reviewed per-file allowance in
    tools/check_plans.py; a glib marker alone cannot self-certify a new
    collect — adding one forces an edit there, i.e. a review of its
    boundedness argument."""
    import pathlib

    from tools.check_plans import check_no_driver_materialization

    offenders = check_no_driver_materialization(pathlib.Path(__file__).parent.parent)
    assert not offenders, "driver-side materialization in query path:\n" + "\n".join(offenders)


def test_checkerboard_near_dup_matches_broadcast_reference(spark, sf_dir):
    """The blocked all-pairs GEMM must produce the exact pair set of a
    naive bucket-free quadratic check (on the small sf)."""
    from onetable_spark.functions.similarity import brute_force_near_dup_pairs, cosine

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    got = {
        (r["id_a"], r["id_b"])
        for r in brute_force_near_dup_pairs(emb, threshold=0.3, n_blocks=3).collect()
    }
    a, b = emb.alias("a"), emb.alias("b")
    want = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(cosine(F.col("a.embedding"), F.col("b.embedding")), 4).alias("c"),
        )
        .filter(F.col("c") >= 0.3)
        .collect()
    }
    assert got == want and len(want) > 0


def test_hudi_last_modified_is_epoch_millis(spark, seeded_hudi):
    """ADVICE(low): last_modified_millis is epoch millis, not the instant
    literal cast to long."""
    tl = HudiTimeline(spark, seeded_hudi)
    row = tl.snapshot_files().first()
    instant = tl.latest_instant()
    assert row["last_modified_millis"] == instant_to_millis(instant)
    # sanity: within a day of now, not a 2e16 yyyyMMdd literal
    assert abs(row["last_modified_millis"] - time.time() * 1000) < 86_400_000
