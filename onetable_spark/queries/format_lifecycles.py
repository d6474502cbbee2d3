"""Staged single-format lifecycles: row-level deletes and upserts, DV
translation, MOR compaction, WAP, manifest compaction, checkpoints,
z-order compaction and vacuum."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onetable_spark.queries import query
from onetable_spark.queries.common import _require, _staged_once
from onetable_spark.session import load_table, local_rows_df


# pos deletes kill odd keys of B; eq deletes kill {3,4} (3 overlaps,
# counts once) — B keeps the even keys except 4; A (keys < 2) is
# untouched
@query(staged=True, oracle="""
        SELECT 'A.parquet' AS file_name, CAST(COUNT(*) AS BIGINT) AS record_count,
               TRUE AS refused_ok
        FROM region WHERE r_regionkey < 2
        UNION ALL
        SELECT 'B.parquet', CAST(COUNT(*) AS BIGINT), TRUE
        FROM region WHERE r_regionkey >= 2 AND r_regionkey % 2 = 0
                      AND r_regionkey <> 4
    """)
def q_iceberg_eq_deletes(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg v2 EQUALITY deletes, data-assisted (r11): the foreign MoR
    fixture gains an equality-delete snapshot (keys {3, 4} on field id 1)
    ON TOP of the position deletes (every odd key of B). The default scan
    refuses (refused_ok — metadata alone cannot apply eq deletes; the
    reference would resurrect the rows); snapshot_files(
    apply_equality_deletes=True) broadcasts the canonicalized eq tuples,
    scans each data file's eq COLUMNS for match positions on executors,
    and kills exactly the union with the position deletes — key 3 is
    both pos- and eq-deleted and must count ONCE. The oracle recomputes
    the survivors from region rows (B keeps even keys except 4). Staged
    once per (session, sf)."""
    import os

    from onetable_spark.formats.iceberg import IcebergTable

    def build(base: str) -> dict:
        from tools.foreign_iceberg import (
            add_equality_deletes,
            add_position_deletes,
            write_foreign_iceberg_table,
        )

        tbl_dir = os.path.join(base, "region")
        os.makedirs(tbl_dir)
        truth = write_foreign_iceberg_table(
            spark, tbl_dir, os.path.join(sf, "region.parquet")
        )
        truth = add_position_deletes(spark, tbl_dir, truth)
        add_equality_deletes(spark, tbl_dir, truth)
        refused = False
        try:
            # driver-ok: refusal probe on the 2-file staged table
            IcebergTable(spark, tbl_dir).snapshot_files().collect()
        except Exception as e:  # noqa: BLE001 — executor raise crosses py4j
            refused = "EQUALITY delete" in str(e)
        return {"dir": tbl_dir, "refused_ok": refused}

    stage = _staged_once(spark, sf, "otb_eqdel_q", build)
    return (
        IcebergTable(spark, stage["dir"])
        .snapshot_files(apply_equality_deletes=True)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("record_count"),
            F.lit(stage["refused_ok"]).alias("refused_ok"),
        )
    )


# rewrite_data_files materializes the deletes away: A (keys < 2)
# carried untouched, the rewritten parquet holds B's survivors (even
# keys except 4 — pos deletes kill odds, eq deletes kill {3, 4})
@query(staged=True, oracle="""
        SELECT 'A.parquet' AS file_kind, CAST(COUNT(*) AS BIGINT) AS record_count,
               TRUE AS data_equiv_ok, TRUE AS time_travel_ok, TRUE AS idempotent_ok
        FROM region WHERE r_regionkey < 2
        UNION ALL
        SELECT 'rewritten', CAST(COUNT(*) AS BIGINT), TRUE, TRUE, TRUE
        FROM region WHERE r_regionkey >= 2 AND r_regionkey % 2 = 0
                      AND r_regionkey <> 4
    """)
def q_iceberg_rewrite_files(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg COMPACTION that APPLIES row-level deletes (r12):
    ``IcebergTable.rewrite_data_files`` rewrites every data file with
    applicable position AND (opted-in) equality deletes into a new
    parquet WITHOUT the dead rows, publishes one REPLACE snapshot
    (rewritten files ADDED at the new sequence number, untouched files
    carried as EXISTING entries with their ORIGINAL sequence numbers,
    delete manifests dropped), and leaves a table the DEFAULT scan — and
    the reference reader, which ignores delete files entirely
    (IcebergSourceClient.java:169-194) — now reads CORRECTLY. The fixture
    is the foreign MoR table: pos deletes kill every odd key of B, eq
    deletes kill keys {3, 4} (3 overlaps, counts once). Emitted per file:
    file_kind ('A.parquet' carried / 'rewritten' for the fresh parquet —
    its name is a uuid), record_count from the DEFAULT scan (no opt-in —
    the eq-delete refusal is gone because the deletes are gone),
    data_equiv_ok (the new parquet's OWN rows are exactly the survivors —
    data plane == stats plane), time_travel_ok (the pre-rewrite snapshot
    still nets the same counts through its carried delete manifests), and
    idempotent_ok (a second rewrite is a no-op). Staged once per
    (session, sf)."""
    import os

    from onetable_spark.formats.iceberg import IcebergTable

    def build(base: str) -> dict:
        import pyarrow.parquet as pq

        from tools.foreign_iceberg import (
            add_equality_deletes,
            add_position_deletes,
            write_foreign_iceberg_table,
        )

        tbl_dir = os.path.join(base, "region")
        os.makedirs(tbl_dir)
        truth = write_foreign_iceberg_table(
            spark, tbl_dir, os.path.join(sf, "region.parquet")
        )
        truth = add_position_deletes(spark, tbl_dir, truth)
        add_equality_deletes(spark, tbl_dir, truth)
        tbl = IcebergTable(spark, tbl_dir)
        pre_snap = tbl.metadata()["current-snapshot-id"]
        snap = tbl.rewrite_data_files(apply_equality_deletes=True)

        # survivors recomputed from the ORIGINAL data plane: B keeps the
        # even keys except 4
        b_keys = pq.read_table(
            os.path.join(tbl_dir, "data", "B.parquet"), columns=["r_regionkey"]
        )["r_regionkey"].to_pylist()
        survivors = sorted(k for k in b_keys if k % 2 == 0 and k not in (3, 4))
        # driver-ok: 2-file staged inventory, stage-time checks only
        inv_rows = tbl.snapshot_files().collect()
        rows = {
            os.path.basename(r["path"]): r["record_count"] for r in inv_rows
        }
        new_name = next(
            (n for n in rows if n.startswith("rewritten-")), None
        )
        equiv = False
        if snap is not None and new_name is not None:
            got = pq.read_table(
                os.path.join(tbl_dir, "data", new_name), columns=["r_regionkey"]
            )["r_regionkey"].to_pylist()
            equiv = sorted(got) == survivors
        # time travel: the PRE-rewrite snapshot still nets through its
        # delete manifests (carried EXISTING entries kept original seqs)
        pre_df = tbl.snapshot_files(
            snapshot_id=pre_snap, apply_equality_deletes=True
        )
        # driver-ok: 2-file staged inventory, stage-time check
        pre_inv = pre_df.collect()
        pre = {
            os.path.basename(r["path"]): r["record_count"] for r in pre_inv
        }
        tt_ok = (
            pre.get("A.parquet") == rows.get("A.parquet")
            and pre.get("B.parquet") == len(survivors)
        )
        idem = tbl.rewrite_data_files(apply_equality_deletes=True) is None
        return {"dir": tbl_dir, "equiv": equiv, "tt": tt_ok, "idem": idem}

    stage = _staged_once(spark, sf, "otb_icrw_q", build)
    return (
        IcebergTable(spark, stage["dir"])
        .snapshot_files()  # DEFAULT scan — deletes are materialized away
        .select(
            F.when(
                F.element_at(F.split("path", "/"), -1).startswith("rewritten-"),
                F.lit("rewritten"),
            )
            .otherwise(F.element_at(F.split("path", "/"), -1))
            .alias("file_kind"),
            F.col("record_count"),
            F.lit(stage["equiv"]).alias("data_equiv_ok"),
            F.lit(stage["tt"]).alias("time_travel_ok"),
            F.lit(stage["idem"]).alias("idempotent_ok"),
        )
    )


# REORG APPLY (PURGE): f1 untouched (all region rows), the purged
# parquet holds f2's survivors — the DV deleted every odd key
@query(staged=True, oracle="""
        SELECT 'f1.parquet' AS file_kind, CAST(COUNT(*) AS BIGINT) AS record_count,
               TRUE AS data_equiv_ok, TRUE AS time_travel_ok,
               TRUE AS no_dv_ok, TRUE AS idempotent_ok
        FROM region
        UNION ALL
        SELECT 'purged', CAST(COUNT(*) AS BIGINT), TRUE, TRUE, TRUE, TRUE
        FROM region WHERE r_regionkey % 2 = 0
    """)
def q_delta_dv_purge(spark: SparkSession, sf: str) -> DataFrame:
    """Delta REORG ... APPLY (PURGE) (r12): a spec-authored DV table (f1 +
    f2 region copies, a real RoaringBitmapArray DV on f2 deleting every
    odd-r_regionkey position) is PURGED — ``DeltaLog.
    purge_deletion_vectors`` rewrites f2 without its dead rows (bitmap
    decoded on the executor, pyarrow take of the survivors) and one
    REORG commit removes the DV'd add and adds the purged file with
    honest raw stats. The Iceberg sibling is ``rewrite_data_files``
    (iceberg_rewrite_files). Emitted per live file from the DEFAULT log
    replay: file_kind ('f1.parquet' untouched / 'purged' — the new
    file's name is a uuid), record_count (raw == net now — nothing left
    to subtract), data_equiv_ok (the purged parquet's OWN rows are
    exactly the even keys), time_travel_ok (the pre-purge version still
    nets through the old descriptor), no_dv_ok
    (verify_deletion_vectors is empty after), and idempotent_ok (a
    second purge is a no-op). Staged once per (session, sf)."""
    import json as _json
    import os
    import shutil

    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.delta_dv import write_dv_file
    from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory

    def build(base: str) -> dict:
        import pyarrow.parquet as pq

        tbl = os.path.join(base, "purge_table")
        os.makedirs(tbl)
        for name in ("f1.parquet", "f2.parquet"):
            shutil.copy(os.path.join(sf, "region.parquet"), os.path.join(tbl, name))
        schema = spark.read.parquet(tbl).schema
        log = DeltaLog(spark, tbl)
        log.init_table(
            Table(name="purge", base_path=tbl, table_format=TableFormat.DELTA,
                  read_schema=schema, layout=DataLayoutStrategy.FLAT)
        )
        log.commit(adds=build_inventory(
            spark, [os.path.join(tbl, n) for n in ("f1.parquet", "f2.parquet")],
            root=tbl,
        ))
        keys = pq.read_table(
            os.path.join(tbl, "f2.parquet"), columns=["r_regionkey"]
        )["r_regionkey"].to_pylist()
        positions = [i for i, k in enumerate(keys) if k % 2 == 1]
        desc = write_dv_file(tbl, positions)
        v = log.latest_version() + 1
        with open(os.path.join(tbl, "_delta_log", f"{v:020d}.json"), "w") as f:
            f.write(_json.dumps({"commitInfo": {"timestamp": 1700000300000,
                                                "operation": "DELETE"}}) + "\n")
            f.write(_json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"]}}) + "\n")
            f.write(_json.dumps({"remove": {
                "path": "f2.parquet", "deletionTimestamp": 1700000300000,
                "dataChange": True}}) + "\n")
            f.write(_json.dumps({"add": {
                "path": "f2.parquet", "partitionValues": {},
                "size": os.path.getsize(os.path.join(tbl, "f2.parquet")),
                "modificationTime": 1700000300000, "dataChange": True,
                "stats": _json.dumps({
                    "numRecords": len(keys),
                    "minValues": {"r_regionkey": str(min(keys))},
                    "maxValues": {"r_regionkey": str(max(keys))},
                    "nullCount": {"r_regionkey": 0}}),
                "deletionVector": desc}}) + "\n")

        pre_version = log.latest_version()
        log.purge_deletion_vectors()
        fresh = DeltaLog(spark, tbl)
        # driver-ok: 2-file staged inventory, stage-time checks only
        inv_rows = fresh.snapshot_files().collect()
        rows = {os.path.basename(r["path"]): r["record_count"] for r in inv_rows}
        survivors = sorted(k for i, k in enumerate(keys) if i not in set(positions))
        purged = next((n for n in rows if n.startswith("purged-")), None)
        equiv = False
        if purged is not None:
            got = pq.read_table(
                os.path.join(tbl, purged), columns=["r_regionkey"]
            )["r_regionkey"].to_pylist()
            equiv = sorted(got) == survivors
        pre_df = fresh.snapshot_files(version=pre_version)
        # driver-ok: 2-file staged inventory, stage-time check
        pre_rows = pre_df.collect()
        pre = {os.path.basename(r["path"]): r["record_count"] for r in pre_rows}
        tt_ok = pre.get("f2.parquet") == len(survivors)
        # driver-ok: emptiness probe on the purged table's DV set
        no_dv = fresh.verify_deletion_vectors().isEmpty()
        idem = fresh.purge_deletion_vectors() is None
        return {
            "dir": tbl, "equiv": equiv, "tt": tt_ok,
            "no_dv": no_dv, "idem": idem,
        }

    stage = _staged_once(spark, sf, "otb_dvpurge_q", build)
    return (
        DeltaLog(spark, stage["dir"])
        .snapshot_files()
        .select(
            F.when(
                F.element_at(F.split("path", "/"), -1).startswith("purged-"),
                F.lit("purged"),
            )
            .otherwise(F.element_at(F.split("path", "/"), -1))
            .alias("file_kind"),
            F.col("record_count"),
            F.lit(stage["equiv"]).alias("data_equiv_ok"),
            F.lit(stage["tt"]).alias("time_travel_ok"),
            F.lit(stage["no_dv"]).alias("no_dv_ok"),
            F.lit(stage["idem"]).alias("idempotent_ok"),
        )
    )


# CDC upsert: u1 upserted keys {0,2}, u2 re-upserted {0} (netting
# u1's copy), a pure eq delete killed {4} — f1 keeps the rest
@query(staged=True, oracle="""
        SELECT 'f1.parquet' AS file_name, CAST(COUNT(*) AS BIGINT) AS record_count,
               TRUE AS refused_ok
        FROM region WHERE r_regionkey NOT IN (0, 2, 4)
        UNION ALL
        SELECT 'u1.parquet', CAST(COUNT(*) AS BIGINT), TRUE
        FROM region WHERE r_regionkey = 2
        UNION ALL
        SELECT 'u2.parquet', CAST(COUNT(*) AS BIGINT), TRUE
        FROM region WHERE r_regionkey = 0
    """)
def q_iceberg_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg v2 EQUALITY-DELETE WRITE plane / Flink-style CDC upsert
    (r12): starting from region in one file, ``commit_upsert`` publishes
    ONE snapshot carrying an equality-delete file (the new rows' keys,
    read off the added parquet on executors, strict-less sequence rule)
    plus the new data file — old rows with matching keys die, the new
    file at the same sequence number is untouched. The lifecycle chains:
    u1 upserts keys {0, 2}; u2 re-upserts key {0} (netting u1 too — its
    sequence number is lower); ``commit_equality_deletes`` then purely
    deletes key {4}. The default scan REFUSES (eq deletes present —
    probed in the stage); the data-assisted scan nets every file and the
    oracle recomputes the survivors from region rows. The reference can
    neither author nor read delete files (IcebergSourceClient.java:
    169-194). Staged once per (session, sf)."""
    import os
    import shutil

    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory

    def build(base: str) -> dict:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tbl = os.path.join(base, "upsert_table")
        os.makedirs(tbl)
        src = os.path.join(sf, "region.parquet")
        shutil.copy(src, os.path.join(tbl, "f1.parquet"))
        schema = spark.read.parquet(src).schema
        ice = IcebergTable(spark, tbl)
        ice.init_table(
            Table(name="ups", base_path=tbl, table_format=TableFormat.ICEBERG,
                  read_schema=schema, layout=DataLayoutStrategy.FLAT),
            format_version=2,
        )
        ice.commit_overwrite(
            adds=build_inventory(spark, [os.path.join(tbl, "f1.parquet")], root=tbl)
        )
        t = pq.read_table(src)

        def upsert(name: str, keys: list[int]) -> None:
            out = os.path.join(tbl, name)
            pq.write_table(
                t.filter(pc.is_in(t["r_regionkey"], value_set=pa.array(keys))), out
            )
            ice.commit_upsert(
                build_inventory(spark, [out], root=tbl), ["r_regionkey"]
            )

        upsert("u1.parquet", [0, 2])
        upsert("u2.parquet", [0])
        ice.commit_equality_deletes(
            local_rows_df(spark, [(4,)], "r_regionkey bigint"), ["r_regionkey"]
        )
        refused = False
        try:
            # driver-ok: refusal probe on the 3-file staged table
            ice.snapshot_files().collect()
        except Exception as e:  # noqa: BLE001 — executor raise crosses py4j
            refused = "EQUALITY delete" in str(e)
        return {"dir": tbl, "refused_ok": refused}

    stage = _staged_once(spark, sf, "otb_upsert_q", build)
    return (
        IcebergTable(spark, stage["dir"])
        .snapshot_files(apply_equality_deletes=True)
        .select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("record_count"),
            F.lit(stage["refused_ok"]).alias("refused_ok"),
        )
    )


# keyed DV merge: u1 upserted keys {0,2}, u2 re-upserted {0}
# (netting u1's copy via the replaced descriptor's union)
@query(staged=True, oracle="""
        SELECT 'f1.parquet' AS file_name, CAST(COUNT(*) AS BIGINT) AS record_count,
               TRUE AS dv_ok
        FROM region WHERE r_regionkey NOT IN (0, 2)
        UNION ALL
        SELECT 'u1.parquet', CAST(COUNT(*) AS BIGINT), TRUE
        FROM region WHERE r_regionkey = 2
        UNION ALL
        SELECT 'u2.parquet', CAST(COUNT(*) AS BIGINT), TRUE
        FROM region WHERE r_regionkey = 0
    """)
def q_delta_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Delta MERGE-shaped KEYED UPSERT via deletion vectors (r12) — the
    Delta twin of ``iceberg_upsert``: ``DeltaLog.upsert_by_key`` reads
    the new rows' keys off the added parquet on executors, prunes live
    files by min/max stats on the key, resolves matching positions with
    a vectorized pandas merge, and commits the new file plus one DV per
    affected existing file in a single version (the DV carries the UNION
    of old dead positions and new matches — a descriptor replaces, never
    stacks). Lifecycle: u1 upserts keys {0, 2}; u2 re-upserts {0},
    netting u1's copy too. Emits (file_name, record_count, dv_ok) — net
    counts the oracle recomputes from region rows; dv_ok is the
    executor-side bitmap-vs-descriptor decode check over every live DV.
    Staged once per (session, sf)."""
    import os
    import shutil

    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory

    def build(base: str) -> dict:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tbl = os.path.join(base, "merge_table")
        os.makedirs(tbl)
        src = os.path.join(sf, "region.parquet")
        shutil.copy(src, os.path.join(tbl, "f1.parquet"))
        schema = spark.read.parquet(src).schema
        log = DeltaLog(spark, tbl)
        log.init_table(
            Table(name="mrg", base_path=tbl, table_format=TableFormat.DELTA,
                  read_schema=schema, layout=DataLayoutStrategy.FLAT)
        )
        log.commit(
            adds=build_inventory(spark, [os.path.join(tbl, "f1.parquet")], root=tbl)
        )
        t = pq.read_table(src)

        def upsert(name: str, keys: list[int]) -> None:
            out = os.path.join(tbl, name)
            pq.write_table(
                t.filter(pc.is_in(t["r_regionkey"], value_set=pa.array(keys))), out
            )
            log.upsert_by_key(
                build_inventory(spark, [out], root=tbl), ["r_regionkey"]
            )

        upsert("u1.parquet", [0, 2])
        upsert("u2.parquet", [0])
        # driver-ok: one row per live DV'd file (2 in this stage)
        checks = DeltaLog(spark, tbl).verify_deletion_vectors().collect()
        dv_ok = bool(checks) and all(c["dv_ok"] for c in checks)
        return {"dir": tbl, "dv_ok": dv_ok}

    stage = _staged_once(spark, sf, "otb_dmerge_q", build)
    return (
        DeltaLog(spark, stage["dir"])
        .snapshot_files()
        .select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("record_count"),
            F.lit(stage["dv_ok"]).alias("dv_ok"),
        )
    )


# MOR keyed upsert: updates are zero-sum in the realtime view (f1
# keeps the full count), the fresh insert group carries exactly 2
@query(staged=True, oracle="""
        SELECT 'f1.parquet' AS file_kind, CAST(COUNT(*) AS BIGINT) AS record_count,
               TRUE AS log_ok, TRUE AS merge_equiv_ok
        FROM region
        UNION ALL
        SELECT 'inserted', CAST(2 AS BIGINT), TRUE, TRUE
    """)
def q_hudi_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi MOR KEYED UPSERT (r12) — the third format's edge of the
    upsert triangle (delta_upsert / iceberg_upsert are the others):
    ``HudiTimeline.upsert_records`` tags a batch against the live base
    files by record key on executors; keys {0, 2} already exist, so they
    become ONE AVRO_DATA log block on f1's file group (numUpdateWrites —
    zero-sum in the realtime view), and two NEW keys (+100) land in a
    fresh base file group, all in one deltacommit. Emits per file from
    the REALTIME view (file_kind 'f1.parquet' / 'inserted' — the insert
    file's name is a uuid): f1 keeps the full region count (updates
    rewrite, never add), the insert group carries exactly 2; refused_ok
    pins the default view's unmerged-log refusal; log_ok is
    verify_log_stats' byte recount; merge_equiv_ok decodes the block and
    proves the updated values ride it for exactly the updated keys.
    Staged once per (session, sf)."""
    import os
    import shutil

    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory

    def build(base: str) -> dict:
        from onetable_spark.formats.hudi_log import (
            avro_block_records,
            read_log_blocks,
        )

        tbl = os.path.join(base, "hupsert")
        os.makedirs(tbl)
        src = os.path.join(sf, "region.parquet")
        f1 = os.path.join(tbl, "f1.parquet")
        shutil.copy(src, f1)
        schema = spark.read.parquet(src).schema
        tl = HudiTimeline(spark, tbl)
        tl.init_table(
            Table(name="hup", base_path=tbl, table_format=TableFormat.HUDI,
                  read_schema=schema, layout=DataLayoutStrategy.FLAT,
                  record_key_fields=("r_regionkey",))
        )
        tl.commit(adds=build_inventory(spark, [f1], root=tbl),
                  action="deltacommit")
        region = spark.read.parquet(src)
        batch = (
            region.filter(F.col("r_regionkey").isin(0, 2))
            .withColumn("r_name", F.lit("UPDATED"))
            .unionByName(
                region.orderBy("r_regionkey").limit(2).withColumn(
                    "r_regionkey", F.col("r_regionkey") + F.lit(100)
                )
            )
        )
        tl.upsert_records(batch)
        refused = False
        try:
            # driver-ok: refusal probe on the 2-group staged table
            tl.snapshot_files().collect()
        except Exception as e:  # noqa: BLE001 — py4j-wrapped
            refused = "unmerged log" in str(e)
        # driver-ok: one row per log file (exactly 1 in this stage)
        checks = tl.verify_log_stats().collect()
        log_ok = bool(checks) and all(c["log_ok"] for c in checks)
        equiv = False
        if len(checks) == 1:
            blocks = read_log_blocks(checks[0]["path"])
            _, recs = avro_block_records(blocks[0], decode=True)
            equiv = (
                sorted(r["r_regionkey"] for r in recs) == [0, 2]
                and all(r["r_name"] == "UPDATED" for r in recs)
            )
        return {"dir": tbl, "ok": refused and log_ok, "equiv": equiv}

    stage = _staged_once(spark, sf, "otb_hupsert_q", build)
    return (
        HudiTimeline(spark, stage["dir"])
        .snapshot_files(view="realtime")
        .select(
            F.when(
                F.element_at(F.split("path", "/"), -1) == "f1.parquet",
                F.lit("f1.parquet"),
            )
            .otherwise(F.lit("inserted"))
            .alias("file_kind"),
            F.col("record_count"),
            F.lit(stage["ok"]).alias("log_ok"),
            F.lit(stage["equiv"]).alias("merge_equiv_ok"),
        )
    )


# WAP: the published table holds both region copies; the immutable
# tag still time-travels to the pre-publish single-file state
@query(staged=True, oracle="""
        SELECT 'published' AS phase, CAST(2 AS BIGINT) AS n_files,
               CAST(2 * COUNT(*) AS BIGINT) AS n_records, TRUE AS audit_ok
        FROM region
        UNION ALL
        SELECT 'tag_v1', CAST(1 AS BIGINT), CAST(COUNT(*) AS BIGINT), TRUE
        FROM region
    """)
def q_iceberg_wap(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg BRANCHES + TAGS / WRITE-AUDIT-PUBLISH (r12, spec §Refs):
    the staged lifecycle tags the seeded table (`v1.0`), stages a second
    file on an `audit` branch via ``commit_overwrite(branch=...)`` —
    main's current-snapshot-id does NOT move, so table readers keep
    seeing one file while ``snapshot_files(ref='audit')`` sees two —
    runs a snapshot-expiry pass proving refs PIN their snapshots past
    the horizon, then ``publish_branch`` fast-forwards main to the
    audited snapshot in one atomic metadata swap. Emits one row per
    read surface AFTER publish: the published table (2 files, 2n rows)
    and the immutable tag, which still time-travels to the pre-publish
    state (1 file, n rows). audit_ok pins the staged-invisibility and
    expiry-pinning checks from the stage. The reference reads
    currentSnapshot only — no ref support. Staged once per (session,
    sf)."""
    import os
    import shutil
    import time as _time

    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory

    def build(base: str) -> dict:
        tbl = os.path.join(base, "wap_table")
        os.makedirs(tbl)
        src = os.path.join(sf, "region.parquet")
        shutil.copy(src, os.path.join(tbl, "f1.parquet"))
        schema = spark.read.parquet(src).schema
        ice = IcebergTable(spark, tbl)
        ice.init_table(
            Table(name="wap", base_path=tbl, table_format=TableFormat.ICEBERG,
                  read_schema=schema, layout=DataLayoutStrategy.FLAT)
        )
        ice.commit_overwrite(
            adds=build_inventory(spark, [os.path.join(tbl, "f1.parquet")], root=tbl)
        )
        main_snap = ice.metadata()["current-snapshot-id"]
        ice.create_tag("v1.0")
        shutil.copy(src, os.path.join(tbl, "f2.parquet"))
        staged = ice.commit_overwrite(
            adds=build_inventory(spark, [os.path.join(tbl, "f2.parquet")], root=tbl),
            branch="audit",
        )
        # staged-invisibility: main did not move, the branch sees 2 files
        audit_ok = (
            ice.metadata()["current-snapshot-id"] == main_snap
            and ice.snapshot_files().count() == 1
            and ice.snapshot_files(ref="audit").count() == 2
        )
        # refs pin their snapshots past the expiry horizon
        ice.commit_overwrite(
            properties={"touch": "1"},
            expire_older_than_millis=int(_time.time() * 1000) + 10_000,
        )
        ids = {s["snapshot-id"] for s in ice.metadata()["snapshots"]}
        audit_ok = audit_ok and staged in ids and main_snap in ids
        audit_ok = audit_ok and ice.publish_branch("audit") == staged
        return {"dir": tbl, "ok": audit_ok}

    stage = _staged_once(spark, sf, "otb_wap_q", build)
    ice = IcebergTable(spark, stage["dir"])

    def surface(df: DataFrame, phase: str) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("record_count").cast("long").alias("n_records"),
        ).select(
            F.lit(phase).alias("phase"), "n_files", "n_records",
            F.lit(stage["ok"]).alias("audit_ok"),
        )

    return surface(ice.snapshot_files(), "published").unionByName(
        surface(ice.snapshot_files(ref="v1.0"), "tag_v1")
    )


# manifest compaction must not move counts: f0 still nets its two
# position deletes through the folded manifest's explicit seqs
@query(staged=True, oracle="""
        SELECT 'f0.parquet' AS file_name,
               CAST(COUNT(*) - 2 AS BIGINT) AS record_count, TRUE AS folded_ok
        FROM region
        UNION ALL
        SELECT 'f1.parquet', CAST(COUNT(*) AS BIGINT), TRUE FROM region
        UNION ALL
        SELECT 'f2.parquet', CAST(COUNT(*) AS BIGINT), TRUE FROM region
        UNION ALL
        SELECT 'f3.parquet', CAST(COUNT(*) AS BIGINT), TRUE FROM region
    """)
def q_iceberg_manifest_compaction(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg MANIFEST compaction on a v2 MoR table (r12 —
    ``rewrite_manifests``): four single-file append snapshots plus a
    position-delete commit leave five manifests; ``compact_manifests``
    folds the four DATA manifests into one sharded EXISTING manifest
    whose entries carry their ORIGINAL data sequence numbers EXPLICITLY
    (v2 inheritance is ADDED-only — inheriting here would re-scope the
    deletes off), while the DELETE manifest rides verbatim. Emitted per
    file from the post-compaction DEFAULT scan: net counts must be
    BIT-IDENTICAL to pre-compaction (f0 still nets its two position
    deletes — the oracle recomputes from region rows); folded_ok pins
    the manifest-list shape (1 data manifest + 1 delete manifest, floor
    sequence number below the fold's). The reference cannot compact (or
    even read) v2 manifests. Staged once per (session, sf)."""
    import os
    import shutil

    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory

    def build(base: str) -> dict:
        from onetable_spark.formats.avro_codec import read_container

        tbl = os.path.join(base, "cm_table")
        os.makedirs(tbl)
        src = os.path.join(sf, "region.parquet")
        schema = spark.read.parquet(src).schema
        ice = IcebergTable(spark, tbl)
        ice.init_table(
            Table(name="cmq", base_path=tbl, table_format=TableFormat.ICEBERG,
                  read_schema=schema, layout=DataLayoutStrategy.FLAT),
            format_version=2,
        )
        for i in range(4):
            f = os.path.join(tbl, f"f{i}.parquet")
            shutil.copy(src, f)
            ice.commit_overwrite(adds=build_inventory(spark, [f], root=tbl))
        ice.commit_position_deletes(
            local_rows_df(
                spark,
                [(os.path.join(tbl, "f0.parquet"), 0),
                 (os.path.join(tbl, "f0.parquet"), 1)],
                "path string, pos long",
            )
        )
        ok = ice.compact_manifests(threshold=2) is not None
        snap = ice.current_snapshot_meta(ice.metadata())
        _, manifests = read_container(snap["manifest-list"])
        data = [m for m in manifests if m.get("content", 0) == 0]
        dels = [m for m in manifests if m.get("content") == 1]
        ok = (
            ok
            and len(data) == 1
            and len(dels) == 1
            and data[0]["existing_files_count"] == 4
            and data[0]["min_sequence_number"] < data[0]["sequence_number"]
        )
        return {"dir": tbl, "ok": ok}

    stage = _staged_once(spark, sf, "otb_icmc_q", build)
    return (
        IcebergTable(spark, stage["dir"])
        .snapshot_files()
        .select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("record_count"),
            F.lit(stage["ok"]).alias("folded_ok"),
        )
    )


# v2 checkpoint replay: f1 raw, f2 nets its odd-key DV, f3 landed
# after the checkpoint and stacks on the sidecar base
@query(staged=True, oracle="""
        SELECT 'f1.parquet' AS file_name, CAST(COUNT(*) AS BIGINT) AS record_count,
               TRUE AS v2_ok
        FROM region
        UNION ALL
        SELECT 'f2.parquet', CAST(COUNT(*) AS BIGINT), TRUE
        FROM region WHERE r_regionkey % 2 = 0
        UNION ALL
        SELECT 'f3.parquet', CAST(COUNT(*) AS BIGINT), TRUE FROM region
    """)
def q_delta_v2_checkpoint(spark: SparkSession, sf: str) -> DataFrame:
    """Delta V2 CHECKPOINT WRITING (r12 — the read side landed in r11
    via foreign fixtures): on a deletion-vector table whose protocol
    advertises v2Checkpoint, ``checkpoint(form='v2', parts=2)`` writes
    the file actions as SIDECAR parquet under ``_delta_log/_sidecars/``
    and one tiny uuid-named top-level file carrying protocol + metaData
    + the spec-required checkpointMetadata action + a sidecar action per
    file. The replay from that checkpoint must reconstruct the SAME net
    state (DV descriptors preserved through the verbatim path — the
    executor bitmap check still passes), and a later commit stacks on
    the checkpoint base. Emits per file (file_name, record_count,
    v2_ok): net counts the oracle recomputes from region rows (f2's DV
    kills every odd key; f3 lands AFTER the checkpoint); v2_ok pins the
    uuid naming, sidecar presence, checkpointMetadata version, and the
    no-feature refusal. Staged once per (session, sf)."""
    import json as _json
    import os
    import shutil

    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.delta_dv import write_dv_file
    from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory

    def build(base: str) -> dict:
        import pyarrow.parquet as pq

        tbl = os.path.join(base, "v2ck_table")
        os.makedirs(tbl)
        src = os.path.join(sf, "region.parquet")
        for name in ("f1.parquet", "f2.parquet"):
            shutil.copy(src, os.path.join(tbl, name))
        schema = spark.read.parquet(tbl).schema
        log = DeltaLog(spark, tbl)
        log.init_table(
            Table(name="v2ck", base_path=tbl, table_format=TableFormat.DELTA,
                  read_schema=schema, layout=DataLayoutStrategy.FLAT)
        )
        log.commit(adds=build_inventory(
            spark, [os.path.join(tbl, n) for n in ("f1.parquet", "f2.parquet")],
            root=tbl,
        ))
        keys = pq.read_table(
            os.path.join(tbl, "f2.parquet"), columns=["r_regionkey"]
        )["r_regionkey"].to_pylist()
        positions = [i for i, k in enumerate(keys) if k % 2 == 1]
        desc = write_dv_file(tbl, positions)
        v = log.latest_version() + 1
        with open(os.path.join(tbl, "_delta_log", f"{v:020d}.json"), "w") as f:
            f.write(_json.dumps({"commitInfo": {"timestamp": 1700000300000,
                                                "operation": "DELETE"}}) + "\n")
            f.write(_json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors"],
                "writerFeatures": ["deletionVectors"]}}) + "\n")
            f.write(_json.dumps({"remove": {
                "path": "f2.parquet", "deletionTimestamp": 1700000300000,
                "dataChange": True}}) + "\n")
            f.write(_json.dumps({"add": {
                "path": "f2.parquet", "partitionValues": {},
                "size": os.path.getsize(os.path.join(tbl, "f2.parquet")),
                "modificationTime": 1700000300000, "dataChange": True,
                "stats": _json.dumps({"numRecords": len(keys)}),
                "deletionVector": desc}}) + "\n")
        # the v2 form refuses until the feature is advertised
        refused = False
        try:
            log.checkpoint(form="v2")
        except ValueError as e:
            refused = "v2Checkpoint" in str(e)
        v = log.latest_version() + 1
        with open(os.path.join(tbl, "_delta_log", f"{v:020d}.json"), "w") as f:
            f.write(_json.dumps({"commitInfo": {"timestamp": 1700000400000,
                                                "operation": "UPGRADE"}}) + "\n")
            f.write(_json.dumps({"protocol": {
                "minReaderVersion": 3, "minWriterVersion": 7,
                "readerFeatures": ["deletionVectors", "v2Checkpoint"],
                "writerFeatures": ["deletionVectors", "v2Checkpoint"]}}) + "\n")
        log.checkpoint(form="v2", parts=2)
        log_dir = os.path.join(tbl, "_delta_log")
        tops = [
            x for x in os.listdir(log_dir)
            if ".checkpoint." in x and x.endswith(".parquet")
        ]
        sidecars = os.listdir(os.path.join(log_dir, "_sidecars"))
        top_df = spark.read.parquet(os.path.join(log_dir, tops[0]))
        # driver-ok: one checkpointMetadata row in the tiny top-level file
        ck_row = top_df.where(F.col("checkpointMetadata").isNotNull()).first()
        ok = (
            refused
            and len(tops) == 1
            and len(tops[0].split(".")) == 4
            and bool(sidecars)
            and ck_row["checkpointMetadata"]["version"] == log._last_checkpoint()
        )
        # a post-checkpoint commit stacks on the v2 base
        f3 = os.path.join(tbl, "f3.parquet")
        shutil.copy(src, f3)
        DeltaLog(spark, tbl).commit(adds=build_inventory(spark, [f3], root=tbl))
        return {"dir": tbl, "ok": ok}

    stage = _staged_once(spark, sf, "otb_v2ck_q", build)
    return (
        DeltaLog(spark, stage["dir"])
        .snapshot_files()
        .select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("record_count"),
            F.lit(stage["ok"]).alias("v2_ok"),
        )
    )


# the translated Delta table's stats plane must report the same net
# counts the Iceberg reader computes: A raw, B = even keys only
@query(staged=True, oracle="""
        SELECT 'A.parquet' AS file_name, CAST(COUNT(*) AS BIGINT) AS record_count,
               TRUE AS dv_ok, TRUE AS data_equiv_ok
        FROM region WHERE r_regionkey < 2
        UNION ALL
        SELECT 'B.parquet', CAST(COUNT(*) AS BIGINT), TRUE, TRUE
        FROM region WHERE r_regionkey >= 2 AND r_regionkey % 2 = 0
    """)
def q_dv_translation(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-format ROW-DELETE TRANSLATION (r11 capstone): the foreign
    Iceberg MoR fixture's position deletes are translated into REAL Delta
    deletion vectors (sync_iceberg_deletes_to_delta_dv — RoaringBitmap
    .bins authored on executors, raw counts on the adds, protocol
    upgraded), instead of net-count-only metadata. Emits per file
    (file_name, record_count, dv_ok, data_equiv_ok): record_count is what
    the Delta stats plane now reports (descriptor-netted — must equal the
    Iceberg net counts the oracle recomputes from region rows); dv_ok is
    the executor-side bitmap-vs-descriptor decode check; data_equiv_ok
    proves ROW-LEVEL fidelity — the target parquet with DV positions
    dropped returns exactly the rows the Iceberg reader returns (the
    property net-count sync cannot give: a Delta ENGINE on that target
    would resurrect deleted rows); roundtrip_ok closes the loop — the
    DVs translate BACK into a fresh Iceberg v2 table
    (sync_delta_dvs_to_iceberg: raw-count append + a MoR DELETE commit
    whose spec-shaped position-delete parquet round-trips the original
    positions bit-exactly). Staged once per (session, sf)."""
    import os

    from onetable_spark.formats.delta import DeltaLog

    def build(base: str) -> dict:
        import pyarrow.parquet as pq

        from onetable_spark.formats.delta_dv import read_dv
        from onetable_spark.sync.client import sync_iceberg_deletes_to_delta_dv
        from tools.foreign_iceberg import add_position_deletes, write_foreign_iceberg_table

        tbl_dir = os.path.join(base, "region")
        os.makedirs(tbl_dir)
        truth = write_foreign_iceberg_table(
            spark, tbl_dir, os.path.join(sf, "region.parquet")
        )
        truth = add_position_deletes(spark, tbl_dir, truth)
        sync_iceberg_deletes_to_delta_dv(spark, tbl_dir)
        log = DeltaLog(spark, tbl_dir)
        # driver-ok: one row per DV'd file (exactly 1 in this stage)
        checks = log.verify_deletion_vectors().collect()
        dv_ok = bool(checks) and all(c["dv_ok"] for c in checks)
        # row-level fidelity: target parquet minus DV positions == the
        # Iceberg-semantics rows (fixture: B keeps exactly the even keys)
        dv_add = (
            log._live_adds(log._replay_actions())
            .where(F.col("deletionVector").isNotNull())
            .select("path", "deletionVector")
            # driver-ok: one descriptor row from the 2-file staged table
            .collect()
        )
        equiv = False
        if len(dv_add) == 1:
            positions = set(
                read_dv(tbl_dir, dv_add[0]["deletionVector"].asDict())
            )
            p = dv_add[0]["path"]
            if not os.path.isabs(p):
                p = os.path.join(tbl_dir, p)  # log paths are table-relative
            keys = pq.read_table(p, columns=["r_regionkey"])["r_regionkey"].to_pylist()
            survivors = sorted(k for i, k in enumerate(keys) if i not in positions)
            equiv = survivors == sorted(k for k in keys if k % 2 == 0)
        # the loop back: Delta DVs -> fresh Iceberg v2 position deletes;
        # the final reader must net the SAME counts and the delete parquet
        # must hold the SAME positions
        from onetable_spark.formats.iceberg import IcebergTable
        from onetable_spark.sync.client import sync_delta_dvs_to_iceberg

        hop2 = os.path.join(base, "roundtrip")
        sync_delta_dvs_to_iceberg(spark, tbl_dir, hop2)
        back = {
            os.path.basename(r["path"]): r["record_count"]
            # driver-ok: 2-file staged table read-back
            for r in IcebergTable(spark, hop2).snapshot_files().collect()
        }
        fwd = {
            os.path.basename(r["path"]): r["record_count"]
            # driver-ok: 2-file staged table read-back
            for r in log.snapshot_files().collect()
        }
        roundtrip = back == fwd and len(back) == 2
        if roundtrip and len(dv_add) == 1:
            dels = [
                f for f in os.listdir(os.path.join(hop2, "data"))
                if f.startswith("pos-deletes-")
            ]
            roundtrip = len(dels) == 1 and (
                pq.read_table(os.path.join(hop2, "data", dels[0]))["pos"].to_pylist()
                == sorted(positions)
            )
        return {"dir": tbl_dir, "dv_ok": dv_ok, "equiv": equiv and roundtrip}

    stage = _staged_once(spark, sf, "otb_dvx_q", build)
    return (
        DeltaLog(spark, stage["dir"])
        .snapshot_files()
        .select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("record_count"),
            F.lit(stage["dv_ok"]).alias("dv_ok"),
            F.lit(stage["equiv"]).alias("data_equiv_ok"),
        )
    )


# the DELETE log blocks net the odd keys of B out of the realtime
# view: A (keys < 2) raw, B = even keys only — same nets as the
# Iceberg reader's (dv_translation's twin, third triangle edge)
@query(staged=True, oracle="""
        SELECT 'A.parquet' AS file_name, CAST(COUNT(*) AS BIGINT) AS record_count,
               TRUE AS log_ok, TRUE AS data_equiv_ok
        FROM region WHERE r_regionkey < 2
        UNION ALL
        SELECT 'B.parquet', CAST(COUNT(*) AS BIGINT), TRUE, TRUE
        FROM region WHERE r_regionkey >= 2 AND r_regionkey % 2 = 0
    """)
def q_hudi_delete_translation(spark: SparkSession, sf: str) -> DataFrame:
    """The THIRD edge of the cross-format delete triangle (r12): the
    foreign Iceberg MoR fixture's position deletes are translated into a
    Hudi target as REAL HoodieLogFormat DELETE blocks
    (sync_iceberg_deletes_to_hudi_logs — record keys READ AT THE DELETED
    POSITIONS on executors, one type-1 block per affected file group,
    byte layout pinned against the reference's real Hudi-0.14 delete
    block), instead of net-count-only metadata. Emits per file
    (file_name, record_count, log_ok, data_equiv_ok): record_count is the
    REALTIME view's netted count (must equal the Iceberg net counts the
    oracle recomputes from region rows); log_ok is verify_log_stats'
    byte-recount of the stat's numDeletes; data_equiv_ok proves ROW-LEVEL
    fidelity — a key-merge over the base parquet (what a real Hudi MOR
    reader does with the block) returns exactly the rows the Iceberg
    reader returns. The default view REFUSES while unmerged delete logs
    exist (probed in the stage) — the reference's Hudi plane never writes
    log files at all (HudiDataFileExtractor.java:344-363). Staged once
    per (session, sf)."""
    import os

    from onetable_spark.formats.hudi import HudiTimeline

    def build(base: str) -> dict:
        import pyarrow.parquet as pq

        from onetable_spark.formats.hudi_log import (
            delete_block_records,
            read_log_blocks,
        )
        from onetable_spark.sync.client import sync_iceberg_deletes_to_hudi_logs
        from tools.foreign_iceberg import add_position_deletes, write_foreign_iceberg_table

        tbl_dir = os.path.join(base, "region")
        os.makedirs(tbl_dir)
        truth = write_foreign_iceberg_table(
            spark, tbl_dir, os.path.join(sf, "region.parquet")
        )
        truth = add_position_deletes(spark, tbl_dir, truth)
        sync_iceberg_deletes_to_hudi_logs(spark, tbl_dir)
        tl = HudiTimeline(spark, tbl_dir)
        # the default view must refuse while unmerged delete logs exist
        refused = False
        try:
            # driver-ok: refusal probe on the 2-file staged table
            tl.snapshot_files().collect()
        except Exception as e:  # noqa: BLE001 — executor raise crosses py4j
            refused = "unmerged log" in str(e)
        # byte-recount: decoded DELETE records must equal the stat's
        # numDeletes (and no data records in a delete-only log)
        # driver-ok: one row per log file (exactly 1 in this stage)
        checks = tl.verify_log_stats().collect()
        log_ok = bool(checks) and all(
            c["log_ok"] and c["decoded_deletes"] == c["stat_num_deletes"]
            for c in checks
        )
        # row-level fidelity: key-merging the DELETE block over the base
        # parquet (a real MOR reader's move) == Iceberg survivor rows
        equiv = False
        if len(checks) == 1:
            blocks = read_log_blocks(checks[0]["path"])
            _, records = delete_block_records(blocks[0])
            dead = {r["recordKey"] for r in records}
            a = pq.read_table(
                os.path.join(tbl_dir, "data", "A.parquet"), columns=["r_regionkey"]
            )["r_regionkey"].to_pylist()
            b = pq.read_table(
                os.path.join(tbl_dir, "data", "B.parquet"), columns=["r_regionkey"]
            )["r_regionkey"].to_pylist()
            survivors = sorted(k for k in a + b if str(k) not in dead)
            expected = sorted(a + [k for k in b if k % 2 == 0])
            equiv = survivors == expected
        return {
            "dir": tbl_dir,
            "ok": refused and log_ok,
            "equiv": equiv,
        }

    stage = _staged_once(spark, sf, "otb_hdx_q", build)
    return (
        HudiTimeline(spark, stage["dir"])
        .snapshot_files(view="realtime")
        .select(
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("record_count"),
            F.lit(stage["ok"]).alias("log_ok"),
            F.lit(stage["equiv"]).alias("data_equiv_ok"),
        )
    )


# compaction materializes +3 inserted keys and -1 deleted key into
# the new base parquet; the default view's count recomputes from
# region rows
@query(staged=True, oracle="""
        SELECT 'compacted' AS file_name,
               CAST(COUNT(*) + 2 AS BIGINT) AS record_count,
               TRUE AS data_equiv_ok
        FROM region
    """)
def q_hudi_mor_compaction(spark: SparkSession, sf: str) -> DataFrame:
    """MOR COMPACTION (r12): real log bytes — an AVRO_DATA block
    inserting 3 new keys and a DELETE block killing one existing key —
    are MATERIALIZED into a new base parquet by
    HudiTimeline.compact_file_groups (blocks merged in instant order,
    upsert-by-key; the new file keeps its file group's id so the timeline
    window supersedes the old slice). The DEFAULT view then reads clean
    (no unmerged logs → no refusal) and the oracle recomputes the merged
    count from region rows (+3 inserts −1 delete). data_equiv_ok proves
    the DATA plane: the new parquet's own rows contain the inserted keys,
    not the deleted one, and count exactly what the inventory reports —
    the property a netted-count realtime sync cannot give a target
    engine. A second compact_file_groups() is a no-op (idempotence).
    Staged once per (session, sf)."""
    import os

    from onetable_spark.formats.hudi import HudiTimeline

    def build(base: str) -> dict:
        import shutil

        import pyarrow.parquet as pq

        from onetable_spark.formats.hudi import _file_id_for
        from onetable_spark.formats.hudi_log import write_avro_log_block
        from onetable_spark.model import (
            DataLayoutStrategy,
            FILES_SCHEMA,
            Table,
            TableFormat,
        )
        from onetable_spark.sources.parquet_inventory import build_inventory

        tbl = os.path.join(base, "region")
        os.makedirs(tbl)
        f1 = os.path.join(tbl, "f1.parquet")
        shutil.copy(os.path.join(sf, "region.parquet"), f1)
        schema = spark.read.parquet(f1).schema
        tl = HudiTimeline(spark, tbl)
        tl.init_table(
            Table(name="morc", base_path=tbl, table_format=TableFormat.HUDI,
                  read_schema=schema, layout=DataLayoutStrategy.FLAT,
                  record_key_fields=("r_regionkey",))
        )
        i1 = tl.commit(adds=build_inventory(spark, [f1], root=tbl),
                       action="deltacommit")
        gid = _file_id_for("f1.parquet")
        lp = os.path.join(tbl, f".{gid}_{i1}.log.1_0-0-0")
        sch = {"type": "record", "name": "r",
               "fields": [{"name": "r_regionkey", "type": "int"}]}
        write_avro_log_block(
            lp, [{"r_regionkey": k} for k in (100, 101, 102)], sch,
            "20240101000000000",
        )
        tl.commit(
            adds=local_rows_df(
                spark,
                [(lp, "hoodie_log", {}, os.path.getsize(lp), 3, None, None)],
                FILES_SCHEMA,
            ),
            action="deltacommit",
        )
        tl.commit_delete_logs(
            local_rows_df(spark, [(f1, 0)], "path string, pos long")
        )
        instant = tl.compact_file_groups()
        # driver-ok: 1-file staged table read-back for the equivalence probe
        snap = {r["path"]: r["record_count"] for r in tl.snapshot_files().collect()}
        new_path, n = next(iter(snap.items()))
        rows = pq.read_table(new_path, columns=["r_regionkey"])[
            "r_regionkey"
        ].to_pylist()
        k0 = pq.read_table(f1, columns=["r_regionkey"])["r_regionkey"].to_pylist()[0]
        equiv = (
            instant is not None
            and len(snap) == 1
            and len(rows) == n
            and {100, 101, 102} <= set(rows)
            and k0 not in rows
            and tl.compact_file_groups() is None  # idempotent
        )
        return {"dir": tbl, "equiv": equiv}

    stage = _staged_once(spark, sf, "otb_morc_q", build)
    return (
        HudiTimeline(spark, stage["dir"])
        .snapshot_files()
        .select(
            F.lit("compacted").alias("file_name"),
            F.col("record_count"),
            F.lit(stage["equiv"]).alias("data_equiv_ok"),
        )
    )


# log effects derive from region rows: inserts = odd keys, deletes =
# zero keys; realtime = base + ins - del
@query(staged=True, oracle="""
        WITH c AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN r_regionkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ins,
                   CAST(SUM(CASE WHEN r_regionkey = 0 THEN 1 ELSE 0 END) AS BIGINT) AS del
            FROM region
        )
        SELECT 'read_optimized' AS view_name, 'f1.parquet' AS file_name,
               n AS record_count, TRUE AS refused_ok
        FROM c
        UNION ALL
        SELECT 'realtime', 'f1.parquet', n + ins - del, TRUE FROM c
    """)
def q_hudi_mor_views(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi MERGE-ON-READ views (r11): a staged MOR table — base file f1
    (region copy) plus a spec-authored deltacommit whose log write-stat
    carries numInserts = odd-key rows and numDeletes = zero-key rows (the
    HoodieWriteStat fields real MOR writers record) — read through the
    three postures: the DEFAULT snapshot REFUSES (refused_ok; the
    reference reads stale base files silently,
    HudiDataFileExtractor.java:157), view='read_optimized' reports the
    raw base count, view='realtime' nets the log effects into the file
    group. The oracle recomputes every number from region rows. Staged
    once per (session, sf)."""
    import json as _json
    import os
    import shutil

    from onetable_spark.formats.hudi import (
        HudiTimeline,
        _file_id_for,
        instant_to_millis,
        millis_to_instant,
    )
    from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory

    def build(base: str) -> dict:
        import pyarrow.parquet as pq

        tbl = os.path.join(base, "mor")
        os.makedirs(tbl)
        f1 = os.path.join(tbl, "f1.parquet")
        shutil.copy(os.path.join(sf, "region.parquet"), f1)
        schema = spark.read.parquet(tbl).schema
        tl = HudiTimeline(spark, tbl)
        tl.init_table(
            Table(name="mor", base_path=tbl, table_format=TableFormat.HUDI,
                  read_schema=schema, layout=DataLayoutStrategy.FLAT)
        )
        i1 = tl.commit(adds=build_inventory(spark, [f1], root=tbl),
                       action="deltacommit")
        keys = pq.read_table(f1, columns=["r_regionkey"])["r_regionkey"].to_pylist()
        ins = sum(1 for k in keys if k % 2 == 1)
        dels = sum(1 for k in keys if k == 0)
        gid = _file_id_for("f1.parquet")
        i2 = millis_to_instant(instant_to_millis(i1) + 1000)
        hoodie = os.path.join(tbl, ".hoodie")
        open(os.path.join(hoodie, f"{i2}.deltacommit.requested"), "w").close()
        open(os.path.join(hoodie, f"{i2}.deltacommit.inflight"), "w").close()
        with open(os.path.join(hoodie, f"{i2}.deltacommit"), "w") as f:
            _json.dump({
                "partitionToWriteStats": {"": [{
                    "fileId": gid,
                    "path": f".{gid}_0-0-1.log.1",
                    "prevCommit": i1,
                    "numWrites": ins + dels,
                    "numInserts": ins,
                    "numDeletes": dels,
                    "numUpdateWrites": 0,
                    "totalWriteBytes": 2048,
                    "fileSizeInBytes": 2048,
                    "partitionPath": "",
                }]},
                "operationType": "UPSERT",
                "extraMetadata": {},
            }, f)
        refused = False
        try:
            # driver-ok: refusal probe on the 1-file staged table
            tl.snapshot_files().collect()
        except ValueError as e:
            refused = "unmerged log" in str(e)
        return {"dir": tbl, "refused_ok": refused}

    stage = _staged_once(spark, sf, "otb_mor_q", build)
    tl = HudiTimeline(spark, stage["dir"])
    out = None
    for view in ("read_optimized", "realtime"):
        part = tl.snapshot_files(view=view).select(
            F.lit(view).alias("view_name"),
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("record_count"),
            F.lit(stage["refused_ok"]).alias("refused_ok"),
        )
        out = part if out is None else out.unionByName(part)
    return out


# the staged ZORDER lifecycle is deterministic: 4 row-number slices of
# events -> one OPTIMIZE ZORDER commit -> 2 disjoint z-range files;
# the layout contract booleans are computed in-plan from real file
# bounds, the record total from the Delta stats plane
@query(staged=True, oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_records,
               4 AS files_before,
               2 AS files_after,
               TRUE AS zspans_disjoint_ok,
               TRUE AS span_tightened_ok,
               TRUE AS prune_improved_ok
        FROM events
    """)
def q_zorder_compaction(spark: SparkSession, sf: str) -> DataFrame:
    """OPTIMIZE ZORDER end-to-end under the correctness gate (r10: the
    zorder_layout Morton key composed into compact_table): four staged
    Delta files each spanning the FULL (user_id, event_id) domain — the
    worst case for stats pruning, every file intersects every range
    predicate — are rewritten in ONE transactional Delta commit into two
    files covering DISJOINT Morton-key ranges. Emits the read-back plus
    in-plan layout contract booleans: n_records (summed from the Delta
    stats plane, never a data re-read), files_after (snapshot read-back),
    zspans_disjoint_ok (the output z ranges do not overlap),
    span_tightened_ok (summed per-file z-span < half the before layout,
    where each file covered ~the whole curve), prune_improved_ok (a small
    value box that intersected ALL four before-files prunes at least one
    after-file on its min/max stats). The oracle recomputes n_records from
    events and pins the deterministic layout facts. Staged once per
    (session, sf)."""
    import os

    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
    from onetable_spark.operators.maintenance import compact_table, morton_key
    from onetable_spark.sources.parquet_inventory import build_inventory

    def z_bounds(paths: list[str]) -> dict[str, tuple[int, int]]:
        # one distributed job for all files: group per input file
        df = (
            spark.read.parquet(*paths)
            .select(
                F.element_at(F.split(F.input_file_name(), "/"), -1).alias("f"),
                morton_key(["user_id", "event_id"]).alias("z"),
            )
            .groupBy("f")
            .agg(F.min("z").alias("lo"), F.max("z").alias("hi"))
        )
        # driver-ok: one row per data file of a 4-file staged table
        return {r["f"]: (r["lo"], r["hi"]) for r in df.collect()}

    def build(base: str) -> dict:
        import shutil as _sh

        tbl = os.path.join(base, "ztbl")
        os.makedirs(tbl)
        events = load_table(spark, sf, "events").select("user_id", "event_id")
        paths = []
        for i in range(4):
            # row-number slices: every file spans the full value domain
            p = os.path.join(tbl, f"slice{i}.parquet")
            events.where((F.col("event_id") % 4) == i).coalesce(1).write.parquet(p + ".d")
            part = next(f for f in os.listdir(p + ".d") if f.endswith(".parquet"))
            os.replace(os.path.join(p + ".d", part), p)
            _sh.rmtree(p + ".d", ignore_errors=True)
            paths.append(p)
        log = DeltaLog(spark, tbl)
        log.init_table(
            Table(
                name="ztbl",
                base_path=tbl,
                table_format=TableFormat.DELTA,
                read_schema=spark.read.parquet(paths[0]).schema,
                layout=DataLayoutStrategy.FLAT,
            )
        )
        log.commit(adds=build_inventory(spark, paths, root=tbl))
        before = z_bounds(paths)
        total = sum(os.path.getsize(p) for p in paths)
        result = compact_table(
            spark,
            TableFormat.DELTA,
            tbl,
            target_bytes=(total // 2) + 1,  # two disjoint z-range files
            zorder_by=("user_id", "event_id"),
        )
        # driver-ok: bounded file inventory (commit-payload order)
        after_paths = [r["path"] for r in log.snapshot_files().collect()]
        after = z_bounds(after_paths)
        spans = sorted(after.values())
        disjoint = all(hi1 < lo2 for (_, hi1), (lo2, _) in zip(spans, spans[1:]))
        span_of = lambda b: sum(hi - lo for lo, hi in b.values())  # noqa: E731
        tightened = span_of(after) < span_of(before) / 2
        # probe = the lowest after-file's own z range: by disjointness it
        # hits exactly ONE after-file, while every before-file (a
        # row-number slice of the same distribution, so each spans ~the
        # whole curve) must intersect it — the pruning win stated on the
        # exact min/max stats a scan would use, scale-independent
        lo1, hi1 = spans[0]
        hit_before = sum(
            1 for lo, hi in before.values() if not (hi < lo1 or lo > hi1)
        )
        pruned = hit_before == len(before) and len(after) >= 2
        return {
            "dir": tbl,
            "files_removed": result["files_removed"],
            "disjoint": disjoint,
            "tightened": tightened,
            "pruned": pruned,
        }

    stage = _staged_once(spark, sf, "otb_zord_q", build)
    files = DeltaLog(spark, stage["dir"]).snapshot_files()
    return files.agg(
        F.sum("record_count").cast("long").alias("n_records"),
        F.lit(stage["files_removed"]).alias("files_before"),
        F.count(F.lit(1)).cast("int").alias("files_after"),
        F.lit(stage["disjoint"]).alias("zspans_disjoint_ok"),
        F.lit(stage["tightened"]).alias("span_tightened_ok"),
        F.lit(stage["pruned"]).alias("prune_improved_ok"),
    )


# the staged VACUUM lifecycle is deterministic: 2 referenced region
# copies, one aged orphan (removed), one fresh orphan (kept); the
# surviving table's stats-plane record total = 2x region
@query(staged=True, oracle="""
        SELECT f.file_name, f.status,
               f.status <> 'removed' AS on_disk,
               (SELECT CAST(2 * COUNT(*) AS BIGINT) FROM region) AS n_live_records
        FROM (VALUES ('f1.parquet', 'referenced'),
                     ('f2.parquet', 'referenced'),
                     ('orphan_new.parquet', 'kept_recent'),
                     ('orphan_old.parquet', 'removed')) f(file_name, status)
    """)
def q_vacuum_orphans(spark: SparkSession, sf: str) -> DataFrame:
    """Orphan-file VACUUM under the correctness gate (r10 — the Delta
    VACUUM / Iceberg remove_orphan_files shape, completing the
    clean/archive/expiry/log-retention maintenance plane): a staged Delta
    table holds two referenced region files plus two orphans — one aged
    past the retention window, one fresh. vacuum_table lists the table
    distributed (directories fan out, never a driver file list), anti-
    joins against EVERY log version's referenced paths, deletes the aged
    orphan inside the executors, and classifies the rest. Emits one row
    per scanned file (file_name, status, on_disk, n_live_records) where
    n_live_records comes from the surviving table's stats plane — proof
    the vacuum touched nothing referenced. The oracle pins the literal
    classification and recomputes the record total from region."""
    import os
    import shutil

    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
    from onetable_spark.operators.maintenance import vacuum_table
    from onetable_spark.sources.parquet_inventory import build_inventory

    def build(base: str) -> dict:
        tbl = os.path.join(base, "vtbl")
        os.makedirs(tbl)
        paths = []
        for name in ("f1.parquet", "f2.parquet"):
            p = os.path.join(tbl, name)
            shutil.copy(os.path.join(sf, "region.parquet"), p)
            paths.append(p)
        schema = spark.read.parquet(paths[0]).schema
        log = DeltaLog(spark, tbl)
        log.init_table(
            Table(name="vtbl", base_path=tbl, table_format=TableFormat.DELTA,
                  read_schema=schema, layout=DataLayoutStrategy.FLAT)
        )
        log.commit(adds=build_inventory(spark, paths, root=tbl))
        old_orphan = os.path.join(tbl, "orphan_old.parquet")
        new_orphan = os.path.join(tbl, "orphan_new.parquet")
        shutil.copy(os.path.join(sf, "region.parquet"), old_orphan)
        shutil.copy(os.path.join(sf, "region.parquet"), new_orphan)
        os.utime(old_orphan, (946684800, 946684800))  # 2000-01-01
        statuses = {
            os.path.basename(r["path"]): r["status"]
            for r in vacuum_table(
                spark, TableFormat.DELTA, tbl, retention_hours=1, reader=log
                # driver-ok: one row per scanned file of a 4-file staged table
            ).collect()
        }
        _require(statuses.get("orphan_old.parquet") == "removed", statuses)
        return {"dir": tbl, "statuses": sorted(statuses.items())}

    stage = _staged_once(spark, sf, "otb_vac_q", build)
    live = DeltaLog(spark, stage["dir"]).snapshot_files().agg(
        F.sum("record_count").cast("long").alias("n_live_records")
    )
    rows = local_rows_df(spark, stage["statuses"], "file_name string, status string")
    return rows.crossJoin(F.broadcast(live)).withColumn(
        "on_disk",
        F.col("status") != F.lit("removed"),
    )
