"""Delta deletion vectors (r11): spec-authored DV fixtures — real z85
payload encoding, real portable RoaringBitmapArray bytes with CRC — read
back through the log replay with NET counts, bitmap-verified against the
descriptor, and synced into Iceberg + Hudi. The reference predates DVs
entirely; the r10 engine refused them; r11 reads them
(PROTOCOL.md §Deletion Vectors, RoaringFormatSpec)."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from onetable_spark.formats.delta import DeltaLog
from onetable_spark.formats.delta_dv import (
    decode_rbm_array,
    encode_rbm_array,
    read_dv,
    write_dv_file,
    z85_decode,
    z85_encode,
)
from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
from onetable_spark.sources.parquet_inventory import build_inventory


def test_z85_spec_vector():
    """The ZeroMQ Z85 reference test vector (spec 32/Z85)."""
    data = bytes([0x86, 0x4F, 0xD2, 0x6F, 0xB5, 0x59, 0xF7, 0x5B])
    assert z85_encode(data) == "HelloWorld"
    assert z85_decode("HelloWorld") == data


def test_portable_rbm_array_byte_fixture():
    """Byte-level fixture hand-assembled from the portable format that
    delta-spark's RoaringBitmapArray.serializeAsPortable writes (and
    delta-rs reads): magic, i64 bitmap count, then per NON-EMPTY bucket
    a 4-byte LE key + a standard RoaringBitmap. Keys are explicit and
    sparse — bucket 1 is absent here, which the r11 keyless-dense codec
    could not represent (it emitted an empty filler bitmap that a real
    engine parses as a garbage key → 'bad roaring cookie'). The bytes
    below are built field-by-field from the spec, NOT round-tripped
    through encode_rbm_array, so an encoder/decoder that agree with
    each other but not with the spec fail this test."""
    import struct

    rows = [1, 5, (2 << 32) | 7]  # buckets {0: [1,5], 2: [7]} — bucket 1 empty
    expected = (
        struct.pack("<i", 1681511377)       # DV magic
        + struct.pack("<q", 2)              # TWO bitmaps (empty bucket skipped)
        # --- bucket key 0 ---
        + struct.pack("<i", 0)
        + struct.pack("<ii", 12346, 1)      # no-run cookie, 1 container
        + struct.pack("<HH", 0, 1)          # container key 0, cardinality-1 = 1
        + struct.pack("<i", 16)             # offset of payload within this bitmap
        + struct.pack("<2H", 1, 5)          # array container values
        # --- bucket key 2 (NOT 1 — keys are explicit, not positional) ---
        + struct.pack("<i", 2)
        + struct.pack("<ii", 12346, 1)
        + struct.pack("<HH", 0, 0)
        + struct.pack("<i", 16)
        + struct.pack("<H", 7)
    )
    assert encode_rbm_array(rows) == expected
    assert decode_rbm_array(expected) == rows


def test_rbm_array_rejects_non_ascending_keys():
    import struct

    bad = (
        struct.pack("<i", 1681511377)
        + struct.pack("<q", 2)
        + struct.pack("<i", 3)
        + struct.pack("<ii", 12346, 1) + struct.pack("<HH", 0, 0)
        + struct.pack("<i", 16) + struct.pack("<H", 1)
        + struct.pack("<i", 3)  # duplicate key — corrupt
        + struct.pack("<ii", 12346, 1) + struct.pack("<HH", 0, 0)
        + struct.pack("<i", 16) + struct.pack("<H", 2)
    )
    with pytest.raises(ValueError, match="not strictly ascending"):
        decode_rbm_array(bad)


def test_roaring_roundtrip_all_container_kinds():
    rows = (
        [1, 5, 65536 + 3]                    # two array containers
        + list(range(100000, 105000))        # a bitmap container (>4096)
        + [2**32 + 7, 2**33 + 12345]         # high buckets
    )
    assert decode_rbm_array(encode_rbm_array(rows)) == sorted(set(rows))


def test_dv_file_roundtrip_with_prefix_and_checks(tmp_path):
    d = str(tmp_path)
    desc = write_dv_file(d, [3, 1, 4, 1, 5], prefix="ab")
    assert desc["cardinality"] == 4
    assert read_dv(d, desc) == [1, 3, 4, 5]
    # a lying descriptor is caught by the decode cross-check
    bad = dict(desc, cardinality=9)
    with pytest.raises(ValueError, match="cardinality 9 != decoded 4"):
        read_dv(d, bad)


def _stage_dv_table(spark, sf_dir, base):
    """f1 + f2 (region copies); version 2 upgrades the protocol and puts a
    DV on f2 deleting every odd-r_regionkey position. Returns (log,
    n_rows, n_deleted, positions)."""
    import pyarrow.parquet as pq

    os.makedirs(base)
    for name in ("f1.parquet", "f2.parquet"):
        shutil.copy(os.path.join(sf_dir, "region.parquet"), os.path.join(base, name))
    schema = spark.read.parquet(base).schema
    log = DeltaLog(spark, base)
    log.init_table(
        Table(
            name="dv",
            base_path=base,
            table_format=TableFormat.DELTA,
            read_schema=schema,
            layout=DataLayoutStrategy.FLAT,
        )
    )
    log.commit(
        adds=build_inventory(
            spark, [os.path.join(base, n) for n in ("f1.parquet", "f2.parquet")],
            root=base,
        )
    )
    keys = pq.read_table(
        os.path.join(base, "f2.parquet"), columns=["r_regionkey"]
    )["r_regionkey"].to_pylist()
    positions = [i for i, k in enumerate(keys) if k % 2 == 1]
    desc = write_dv_file(base, positions)
    n = len(keys)
    v = log.latest_version() + 1
    with open(os.path.join(base, "_delta_log", f"{v:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 1700000300000,
                                           "operation": "DELETE"}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"]}}) + "\n")
        f.write(json.dumps({"remove": {"path": "f2.parquet",
                                       "deletionTimestamp": 1700000300000,
                                       "dataChange": True}}) + "\n")
        f.write(json.dumps({"add": {
            "path": "f2.parquet", "partitionValues": {},
            "size": os.path.getsize(os.path.join(base, "f2.parquet")),
            "modificationTime": 1700000300000, "dataChange": True,
            "stats": json.dumps({"numRecords": n,
                                 "minValues": {"r_regionkey": str(min(keys))},
                                 "maxValues": {"r_regionkey": str(max(keys))},
                                 "nullCount": {"r_regionkey": 0}}),
            "deletionVector": desc}}) + "\n")
    return log, n, len(positions), positions


def test_dv_table_reads_net_counts_and_verifies_bitmap(spark, sf_dir, tmp_path):
    base = str(tmp_path / "dvt")
    _, n, n_del, _ = _stage_dv_table(spark, sf_dir, base)
    fresh = DeltaLog(spark, base)
    rows = {
        os.path.basename(r["path"]): r for r in fresh.snapshot_files().collect()
    }
    assert rows["f1.parquet"]["record_count"] == n
    assert rows["f2.parquet"]["record_count"] == n - n_del
    st = {s["field"]: s for s in rows["f2.parquet"]["column_stats"]}
    assert st["r_regionkey"]["num_values"] == n - n_del
    assert st["r_regionkey"]["num_nulls"] is None
    # bitmap decode (executors read the .bin: CRC + magic + roaring) must
    # agree with the descriptor the inventory trusted
    checks = fresh.verify_deletion_vectors().collect()
    assert len(checks) == 1
    assert checks[0]["dv_ok"] and checks[0]["decoded_cardinality"] == n_del


def test_dv_table_syncs_net_counts_into_iceberg_and_hudi(spark, sf_dir, tmp_path):
    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.sync import SyncClient, source_for, target_for

    base = str(tmp_path / "dvt_sync")
    _, n, n_del, _ = _stage_dv_table(spark, sf_dir, base)
    client = SyncClient(spark)
    source = source_for(spark, TableFormat.DELTA, base)
    targets = [
        target_for(spark, TableFormat.ICEBERG, base),
        target_for(spark, TableFormat.HUDI, base),
    ]
    results = client.sync(source, targets)
    assert {f.value: r.status.value for f, r in results.items()} == {
        "ICEBERG": "SUCCESS",
        "HUDI": "SUCCESS",
    }
    expected = {"f1.parquet": n, "f2.parquet": n - n_del}
    for reader in (IcebergTable(spark, base), HudiTimeline(spark, base)):
        got = {
            os.path.basename(r["path"]): r["record_count"]
            for r in reader.snapshot_files().collect()
        }
        assert got == expected


def test_corrupt_dv_bitmap_refuses(spark, sf_dir, tmp_path):
    """A truncated/garbled DV file fails the CRC check — loud error, not
    a wrong count."""
    base = str(tmp_path / "dvt_bad")
    _stage_dv_table(spark, sf_dir, base)
    bin_file = next(
        os.path.join(base, f) for f in os.listdir(base)
        if f.startswith("deletion_vector_")
    )
    raw = bytearray(open(bin_file, "rb").read())
    raw[10] ^= 0xFF
    open(bin_file, "wb").write(bytes(raw))
    with pytest.raises(Exception, match="checksum mismatch"):
        DeltaLog(spark, base).verify_deletion_vectors().collect()


def test_dv_commit_incremental_change_replaces_descriptor(spark, sf_dir, tmp_path):
    """The DV commit's own change scan (changes_for_version) emits the
    remove+add-with-net-counts shape an incremental sync applies: the
    same path leaves with its raw descriptor and returns with the
    DV-netted one."""
    base = str(tmp_path / "dvt_chg")
    log, n, n_del, _ = _stage_dv_table(spark, sf_dir, base)
    v = log.latest_version()  # the DV commit
    change = DeltaLog(spark, base).changes_for_version(v)
    added = {
        os.path.basename(r["path"]): r["record_count"]
        for r in change.diff.added.collect()
    }
    removed = [os.path.basename(r["path"]) for r in change.diff.removed.collect()]
    assert added == {"f2.parquet": n - n_del}
    assert removed == ["f2.parquet"]

    # and an incremental-shaped sync lands the net count in a target:
    # full sync first at v-1 (pre-DV), then apply the DV change
    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.sync import SyncClient, source_for, target_for

    res = SyncClient(spark).sync(
        source_for(spark, TableFormat.DELTA, base),
        [target_for(spark, TableFormat.ICEBERG, base)],
    )
    assert res[TableFormat.ICEBERG].status.value == "SUCCESS"
    got = {
        os.path.basename(r["path"]): r["record_count"]
        for r in IcebergTable(spark, base).snapshot_files().collect()
    }
    assert got == {"f1.parquet": n, "f2.parquet": n - n_del}


def test_dv_table_translates_to_iceberg_position_deletes(spark, sf_dir, tmp_path):
    """REVERSE delete translation (r11): the Delta DVs become real
    Iceberg v2 position deletes — fresh v2 table, raw-count append, one
    MoR DELETE commit — and the Iceberg reader nets exactly the same
    counts while the delete parquet round-trips the positions
    bit-exactly. Closes the loop with the Iceberg→Delta direction."""
    import pyarrow.parquet as pq

    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.sync.client import sync_delta_dvs_to_iceberg

    base = str(tmp_path / "dv_src")
    _, n, n_del, positions = _stage_dv_table(spark, sf_dir, base)
    target = str(tmp_path / "ice_tgt")
    sync_delta_dvs_to_iceberg(spark, base, target)

    tbl = IcebergTable(spark, target)
    md = tbl.metadata()
    assert md["format-version"] == 2 and md["last-sequence-number"] == 2
    rows = {
        os.path.basename(r["path"]): r["record_count"]
        for r in tbl.snapshot_files().collect()
    }
    assert rows == {"f1.parquet": n, "f2.parquet": n - n_del}

    # the delete parquet is spec-shaped and position-exact
    del_files = [
        f for f in os.listdir(os.path.join(target, "data"))
        if f.startswith("pos-deletes-")
    ]
    assert len(del_files) == 1
    t = pq.read_table(os.path.join(target, "data", del_files[0]))
    assert t.column_names == ["file_path", "pos"]
    assert t["pos"].to_pylist() == positions
    assert all(p.endswith("f2.parquet") for p in t["file_path"].to_pylist())
    # reserved field ids per the spec (2147483546 / 2147483545)
    fids = {
        f.name: f.metadata.get(b"PARQUET:field_id") for f in t.schema
    }
    assert fids == {"file_path": b"2147483546", "pos": b"2147483545"}

    # time travel: the pre-delete v2 snapshot still reports raw counts
    snaps = md["snapshots"]
    assert [s.get("sequence-number") for s in snaps] == [1, 2]
    pre = tbl.snapshot_files(snapshot_id=snaps[0]["snapshot-id"]).collect()
    assert {os.path.basename(r["path"]): r["record_count"] for r in pre} == {
        "f1.parquet": n, "f2.parquet": n,
    }


def test_dv_table_checkpoints_and_cleans_log(spark, sf_dir, tmp_path):
    """DV tables checkpoint through the VERBATIM path (descriptors and
    the featured protocol survive in the parquet), so log cleanup works
    instead of the log growing forever; a checkpoint-only replay still
    nets the counts and decodes the bitmaps."""
    base = str(tmp_path / "dvt_ckpt")
    log, n, n_del, _ = _stage_dv_table(spark, sf_dir, base)
    log = DeltaLog(spark, base)
    log.checkpoint()
    removed = log.clean_log(retention_hours=0)
    assert removed >= 1  # pre-checkpoint commits swept

    fresh = DeltaLog(spark, base)
    rows = {
        os.path.basename(r["path"]): r["record_count"]
        for r in fresh.snapshot_files().collect()
    }
    assert rows == {"f1.parquet": n, "f2.parquet": n - n_del}
    checks = fresh.verify_deletion_vectors().collect()
    assert len(checks) == 1 and checks[0]["dv_ok"]
    # the protocol action in the checkpoint kept its features: a fresh
    # reader still enforces the deletionVectors guard path
    info = fresh.snapshot_info()
    assert "deletionVectors" in (info.protocol.get("readerFeatures") or [])


def test_dv_positions_path_matches_inventory_for_encoded_paths(spark, sf_dir, tmp_path):
    """Percent-encoded add paths (a space in the file name) must resolve
    to the SAME absolute path in the decoded positions frame as in the
    raw inventory (r12 ADVICE fix): the raw side applies F.url_decode, so
    the DV decode worker must unquote too — otherwise translated deletes
    join nothing and deleted rows silently resurrect."""
    import pyarrow.parquet as pq

    base = str(tmp_path / "dv enc")
    os.makedirs(base)
    fname = "part 2.parquet"  # space → %20 in the log's relative path
    shutil.copy(os.path.join(sf_dir, "region.parquet"), os.path.join(base, fname))
    schema = spark.read.parquet(os.path.join(base, fname)).schema
    log = DeltaLog(spark, base)
    log.init_table(
        Table(name="enc", base_path=base, table_format=TableFormat.DELTA,
              read_schema=schema, layout=DataLayoutStrategy.FLAT)
    )
    log.commit(adds=build_inventory(spark, [os.path.join(base, fname)], root=base))
    n = pq.read_metadata(os.path.join(base, fname)).num_rows
    desc = write_dv_file(base, [0, 2])
    v = log.latest_version() + 1
    with open(os.path.join(base, "_delta_log", f"{v:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 1700000400000,
                                           "operation": "DELETE"}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors"],
            "writerFeatures": ["deletionVectors"]}}) + "\n")
        f.write(json.dumps({"add": {
            "path": "part%202.parquet", "partitionValues": {},
            "size": os.path.getsize(os.path.join(base, fname)),
            "modificationTime": 1700000400000, "dataChange": True,
            "stats": json.dumps({"numRecords": n}),
            "deletionVector": desc}}) + "\n")
    raw, positions = DeltaLog(spark, base).snapshot_with_deleted_positions()
    raw_paths = {r["path"] for r in raw.collect()}
    pos_rows = positions.collect()
    assert {r["path"] for r in pos_rows} == raw_paths  # identical representation
    assert sorted(r["pos"] for r in pos_rows) == [0, 2]


def test_empty_positions_commit_skips_protocol_upgrade(spark, sf_dir, tmp_path):
    """commit(deletion_vectors=<empty>) must NOT advertise the
    deletionVectors feature (r12 ADVICE fix): a v2 source with zero live
    deletes would otherwise lock minReaderVersion<3 engines out of the
    target for a feature the table never uses. No bitmap lands either."""
    base = str(tmp_path / "nodv")
    os.makedirs(base)
    shutil.copy(os.path.join(sf_dir, "region.parquet"),
                os.path.join(base, "f1.parquet"))
    schema = spark.read.parquet(base).schema
    log = DeltaLog(spark, base)
    log.init_table(
        Table(name="nodv", base_path=base, table_format=TableFormat.DELTA,
              read_schema=schema, layout=DataLayoutStrategy.FLAT)
    )
    empty = spark.createDataFrame([], "path string, pos long")
    log.commit(
        adds=build_inventory(spark, [os.path.join(base, "f1.parquet")], root=base),
        deletion_vectors=empty,
    )
    info = DeltaLog(spark, base).snapshot_info()
    assert "deletionVectors" not in (info.protocol.get("readerFeatures") or [])
    assert info.protocol.get("minReaderVersion", 1) < 3
    assert not [f for f in os.listdir(base) if f.startswith("deletion_vector_")]


def test_dangling_dv_guard_compares_path_sets(spark, sf_dir, tmp_path):
    """Every authored DV must attach to an add of the same commit. The
    guard compares the set of descriptor paths with the set of adds that
    took one: adds that carry file A twice must not stand in for a DV on
    file B, which no add names — the commit raises before publishing."""
    base = str(tmp_path / "dangle")
    os.makedirs(base)
    a, b = os.path.join(base, "a.parquet"), os.path.join(base, "b.parquet")
    for f in (a, b):
        shutil.copy(os.path.join(sf_dir, "region.parquet"), f)
    log = DeltaLog(spark, base)
    log.init_table(
        Table(name="g", base_path=base, table_format=TableFormat.DELTA,
              read_schema=spark.read.parquet(a).schema,
              layout=DataLayoutStrategy.FLAT)
    )
    log.commit(adds=build_inventory(spark, [a, b], root=base))
    before = log.latest_version()
    inv_a = build_inventory(spark, [a], root=base)
    with pytest.raises(ValueError, match="match no add"):
        log.commit(
            adds=inv_a.unionByName(inv_a),
            deletion_vectors=spark.createDataFrame(
                [(a, 0), (b, 1)], "path string, pos long"
            ),
        )
    assert DeltaLog(spark, base).latest_version() == before


def test_dv_translation_authors_exactly_one_bitmap_per_file(spark, sf_dir, tmp_path):
    """DV authoring is side-effecting; the commit plan must evaluate it
    exactly once — re-execution would strew orphan bitmaps with fresh
    uuids and leave the committed descriptor pointing at only one."""
    from tools.foreign_iceberg import add_position_deletes, write_foreign_iceberg_table

    from onetable_spark.sync.client import sync_iceberg_deletes_to_delta_dv

    base = str(tmp_path / "once")
    os.makedirs(base)
    truth = write_foreign_iceberg_table(
        spark, base, os.path.join(sf_dir, "region.parquet")
    )
    add_position_deletes(spark, base, truth)
    sync_iceberg_deletes_to_delta_dv(spark, base)
    bins = [f for f in os.listdir(base) if f.startswith("deletion_vector_")]
    assert len(bins) == 1  # one DV'd file -> exactly one bitmap on disk


def test_purge_deletion_vectors_rewrites_and_drops_dvs(spark, sf_dir, tmp_path):
    """r12 REORG APPLY (PURGE): the DV'd file is rewritten without its
    dead rows, the replacement add carries honest raw stats (no
    descriptor), no live DV remains, the data plane equals the stats
    plane, time travel to the pre-purge version still nets through the
    old descriptor, a second purge is a no-op, and the protocol keeps
    the deletionVectors feature (no silent downgrade)."""
    import pyarrow.parquet as pq

    base = str(tmp_path / "purge")
    log, n, n_del, positions = _stage_dv_table(spark, sf_dir, base)
    pre_version = log.latest_version()
    v = log.purge_deletion_vectors()
    assert v == pre_version + 1

    fresh = DeltaLog(spark, base)
    rows = {
        os.path.basename(r["path"]): r for r in fresh.snapshot_files().collect()
    }
    assert rows["f1.parquet"]["record_count"] == n
    purged = next(name for name in rows if name.startswith("purged-"))
    assert rows[purged]["record_count"] == n - n_del
    assert fresh.verify_deletion_vectors().count() == 0
    # data plane == stats plane: the purged parquet's OWN rows are the
    # survivors (f2 keeps the even keys)
    keys = pq.read_table(
        os.path.join(base, "f2.parquet"), columns=["r_regionkey"]
    )["r_regionkey"].to_pylist()
    survivors = sorted(k for i, k in enumerate(keys) if i not in set(positions))
    got = pq.read_table(
        os.path.join(base, purged), columns=["r_regionkey"]
    )["r_regionkey"].to_pylist()
    assert sorted(got) == survivors
    # time travel: the pre-purge version still nets via the descriptor
    old = {
        os.path.basename(r["path"]): r["record_count"]
        for r in fresh.snapshot_files(version=pre_version).collect()
    }
    assert old["f2.parquet"] == n - n_del
    assert fresh.purge_deletion_vectors() is None
    feats = fresh.snapshot_info().protocol.get("readerFeatures") or []
    assert "deletionVectors" in feats


def test_purge_removes_fully_deleted_file_without_replacement(spark, sf_dir, tmp_path):
    """A DV that kills EVERY row purges to a plain remove — no empty
    replacement parquet is written or added."""
    base = str(tmp_path / "pall")
    os.makedirs(base)
    shutil.copy(os.path.join(sf_dir, "region.parquet"), os.path.join(base, "f1.parquet"))
    schema = spark.read.parquet(base).schema
    log = DeltaLog(spark, base)
    log.init_table(
        Table(name="p", base_path=base, table_format=TableFormat.DELTA,
              read_schema=schema, layout=DataLayoutStrategy.FLAT)
    )
    f1 = os.path.join(base, "f1.parquet")
    n = spark.read.parquet(f1).count()
    log.commit(
        adds=build_inventory(spark, [f1], root=base),
        deletion_vectors=spark.createDataFrame(
            [(f1, i) for i in range(n)], "path string, pos long"
        ),
    )
    assert log.purge_deletion_vectors() is not None
    fresh = DeltaLog(spark, base)
    assert fresh.snapshot_files().count() == 0
    assert not [f for f in os.listdir(base) if f.startswith("purged-")]


def test_purge_commit_marks_data_change_false(spark, sf_dir, tmp_path):
    """REORG is a LAYOUT change: delta-spark writes dataChange=false on
    OPTIMIZE/REORG adds+removes so CDC readers (skipChangeCommits) don't
    replay rewritten rows as new data. Pin the log bytes."""
    base = str(tmp_path / "dc")
    log, _, _, _ = _stage_dv_table(spark, sf_dir, base)
    v = log.purge_deletion_vectors()
    with open(os.path.join(base, "_delta_log", f"{v:020d}.json")) as f:
        actions = [json.loads(line) for line in f]
    adds = [a["add"] for a in actions if "add" in a]
    removes = [a["remove"] for a in actions if "remove" in a]
    assert adds and removes
    assert all(a["dataChange"] is False for a in adds)
    assert all(r["dataChange"] is False for r in removes)


def test_upsert_by_key_attaches_dvs_and_adds_new_rows(spark, sf_dir, tmp_path):
    """r12 MERGE-shaped keyed upsert: existing rows whose key matches a
    new row's key die via a deletion vector, the new file lands in the
    same commit, chained upserts net earlier upsert files too (the new
    DV carries the union of old dead positions and new matches), and the
    logical key multiset stays exactly the original key set."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    base = str(tmp_path / "merge")
    os.makedirs(base)
    src = os.path.join(sf_dir, "region.parquet")
    shutil.copy(src, os.path.join(base, "f1.parquet"))
    schema = spark.read.parquet(src).schema
    log = DeltaLog(spark, base)
    log.init_table(
        Table(name="m", base_path=base, table_format=TableFormat.DELTA,
              read_schema=schema, layout=DataLayoutStrategy.FLAT)
    )
    f1 = os.path.join(base, "f1.parquet")
    log.commit(adds=build_inventory(spark, [f1], root=base))
    t = pq.read_table(src)
    n = t.num_rows

    def upsert(name: str, keys: list[int]) -> None:
        out = os.path.join(base, name)
        pq.write_table(
            t.filter(pc.is_in(t["r_regionkey"], value_set=pa.array(keys))), out
        )
        log.upsert_by_key(build_inventory(spark, [out], root=base), ["r_regionkey"])

    upsert("u1.parquet", [0, 2])
    rows = {
        os.path.basename(r["path"]): r["record_count"]
        for r in log.snapshot_files().collect()
    }
    assert rows == {"f1.parquet": n - 2, "u1.parquet": 2}
    checks = {os.path.basename(c["path"]): c for c in log.verify_deletion_vectors().collect()}
    assert set(checks) == {"f1.parquet"}
    assert checks["f1.parquet"]["dv_ok"]
    assert checks["f1.parquet"]["decoded_cardinality"] == 2

    # chained: key 0 again — u1's copy dies too; f1's new DV must carry
    # the UNION (same two positions), not just the re-match
    upsert("u2.parquet", [0])
    rows = {
        os.path.basename(r["path"]): r["record_count"]
        for r in log.snapshot_files().collect()
    }
    assert rows == {"f1.parquet": n - 2, "u1.parquet": 1, "u2.parquet": 1}
    checks = {os.path.basename(c["path"]): c for c in log.verify_deletion_vectors().collect()}
    assert checks["f1.parquet"]["decoded_cardinality"] == 2
    assert checks["u1.parquet"]["decoded_cardinality"] == 1
    assert all(c["dv_ok"] for c in checks.values())

    # logical key multiset == the original keys, each exactly once
    raw, positions = log.snapshot_with_deleted_positions()
    dead = {(r["path"], r["pos"]) for r in positions.collect()}
    live_keys = []
    for r in raw.collect():
        ks = pq.read_table(r["path"], columns=["r_regionkey"])[
            "r_regionkey"
        ].to_pylist()
        live_keys += [k for i, k in enumerate(ks) if (r["path"], i) not in dead]
    assert sorted(live_keys) == sorted(t["r_regionkey"].to_pylist())

    with pytest.raises(ValueError, match="not a top-level primitive"):
        log.upsert_by_key(build_inventory(spark, [f1], root=base), ["nope"])


def test_v2_checkpoint_write_and_replay(spark, sf_dir, tmp_path):
    """r12: checkpoint(form='v2') writes the uuid-named top-level file
    (protocol + metaData + checkpointMetadata + sidecar actions) with the
    file actions in _delta_log/_sidecars/ parquet, the replay
    reconstructs the SAME net state (DV descriptors preserved through
    the verbatim path), later commits stack on top, and the form refuses
    on tables that don't advertise the v2Checkpoint feature."""
    base = str(tmp_path / "v2ck")
    log, n, n_del, _ = _stage_dv_table(spark, sf_dir, base)
    pre = {
        os.path.basename(r["path"]): r["record_count"]
        for r in log.snapshot_files().collect()
    }

    # without the feature the v2 form refuses
    with pytest.raises(ValueError, match="v2Checkpoint"):
        log.checkpoint(form="v2")

    v = log.latest_version() + 1
    with open(os.path.join(base, "_delta_log", f"{v:020d}.json"), "w") as f:
        f.write(json.dumps({"commitInfo": {"timestamp": 1700000400000,
                                           "operation": "UPGRADE"}}) + "\n")
        f.write(json.dumps({"protocol": {
            "minReaderVersion": 3, "minWriterVersion": 7,
            "readerFeatures": ["deletionVectors", "v2Checkpoint"],
            "writerFeatures": ["deletionVectors", "v2Checkpoint"]}}) + "\n")

    log.checkpoint(form="v2", parts=2)
    tops = [
        x for x in os.listdir(os.path.join(base, "_delta_log"))
        if ".checkpoint." in x and x.endswith(".parquet")
    ]
    assert len(tops) == 1 and len(tops[0].split(".")) == 4  # uuid-named
    sidecars = os.listdir(os.path.join(base, "_delta_log", "_sidecars"))
    assert sidecars and all(s.endswith(".parquet") for s in sidecars)
    # the top file carries the spec-required checkpointMetadata action
    top_df = spark.read.parquet(os.path.join(base, "_delta_log", tops[0]))
    assert "checkpointMetadata" in top_df.columns
    assert (
        top_df.where(F.col("checkpointMetadata").isNotNull())
        .first()["checkpointMetadata"]["version"]
        == log._last_checkpoint()
    )

    # replay from the v2 checkpoint reconstructs the same net state
    fresh = DeltaLog(spark, base)
    assert fresh._last_checkpoint() is not None
    got = {
        os.path.basename(r["path"]): r["record_count"]
        for r in fresh.snapshot_files().collect()
    }
    assert got == pre
    # bitmap verification still works post-checkpoint (DV descriptor
    # survived the verbatim sidecar write)
    checks = fresh.verify_deletion_vectors().collect()
    assert checks and all(c["dv_ok"] for c in checks)

    # later commits stack on the checkpoint base
    import shutil as _sh

    f3 = os.path.join(base, "f3.parquet")
    _sh.copy(os.path.join(sf_dir, "region.parquet"), f3)
    fresh.commit(adds=build_inventory(spark, [f3], root=base))
    got2 = {
        os.path.basename(r["path"]): r["record_count"]
        for r in DeltaLog(spark, base).snapshot_files().collect()
    }
    assert got2 == {**pre, "f3.parquet": n}


def test_purge_dv_on_partitioned_table_carries_partition_values(spark, tmp_path):
    base = str(tmp_path / "pdv")
    os.makedirs(base)
    df = spark.createDataFrame(
        [(i, "a" if i < 5 else "b", f"row{i}") for i in range(10)],
        "id long, part string, payload string",
    )
    # hive-partitioned physical layout, ONE file per partition dir (the
    # purge must produce a replacement, so the DV'd file needs survivors)
    df.coalesce(1).write.partitionBy("part").parquet(base, mode="overwrite")
    data_files = sorted(
        os.path.join(dp, f)
        for dp, _, fs in os.walk(base)
        for f in fs
        if f.endswith(".parquet") and not dp.endswith("_delta_log")
    )
    from onetable_spark.model import PartitionField

    log = DeltaLog(spark, base)
    schema = spark.read.parquet(base).schema
    log.init_table(
        Table(name="pdv", base_path=base, table_format=TableFormat.DELTA,
              read_schema=schema,
              layout=DataLayoutStrategy.HIVE_STYLE_PARTITION,
              partition_fields=(PartitionField(source_field="part"),)),
    )
    adds = build_inventory(spark, data_files, root=base, partition_cols=["part"])
    log.commit(adds=adds)
    # attach a DV that kills id=7 (partition b): find the physical file
    # holding it and its row position within that file
    import pyarrow.parquet as pq

    target, dead_pos = None, None
    for p in data_files:
        if "part=b" not in p:
            continue
        ids = pq.read_table(p, columns=["id"])["id"].to_pylist()
        if 7 in ids:
            target, dead_pos = p, ids.index(7)
            break
    assert target is not None
    positions = spark.createDataFrame([(target, int(dead_pos))], "path string, pos long")
    dv_adds = build_inventory(spark, [target], root=base, partition_cols=["part"])
    log.commit(adds=dv_adds, deletion_vectors=positions)

    v = log.purge_deletion_vectors()
    assert v is not None
    # the purged replacement must live inside part=b/ and its add must
    # carry partitionValues {part: b} — a root-level add with {} vanishes
    # from partition-filtered scans
    with open(os.path.join(base, "_delta_log", f"{v:020d}.json")) as f:
        actions = [json.loads(line) for line in f]
    new_adds = [a["add"] for a in actions if "add" in a]
    assert len(new_adds) == 1
    assert "part=b" in new_adds[0]["path"]
    assert new_adds[0]["partitionValues"] == {"part": "b"}
    # and the table still reads correctly partition-filtered
    files = log.snapshot_files()
    b_files = files.where(F.col("partition_values")["part"] == "b")
    assert b_files.count() == 1
    total = sum(r["record_count"] for r in files.collect())
    assert total == 9  # 10 rows minus the purged one
