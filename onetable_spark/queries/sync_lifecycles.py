"""Staged end-to-end sync lifecycles across Delta, Iceberg and Hudi."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onetable_spark.queries import query
from onetable_spark.queries.common import _CORPUS_CACHE, _require, _staged_once, _validate_staged
from onetable_spark.session import local_rows_df


def _two_commit_delta_stage(spark: SparkSession, sf: str) -> dict:
    """ONE staged Delta-source lifecycle shared by ``sync_changes`` AND
    ``sync_time_travel`` (they used to build near-identical tables
    separately): f1 commit → full sync to Iceberg + Hudi → capture every
    format's first-commit handle → f2 commit → incremental sync. Returns
    the base dir plus the per-format as-of coordinates."""
    import os
    import shutil

    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.model import Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory
    from onetable_spark.sync import SyncClient, source_for, target_for

    def build(base: str) -> dict:
        shutil.copy(os.path.join(sf, "region.parquet"), os.path.join(base, "f1.parquet"))
        schema = spark.read.parquet(base).schema
        log = DeltaLog(spark, base)
        log.init_table(
            Table(name="tbl", base_path=base, table_format=TableFormat.DELTA, read_schema=schema)
        )
        log.commit(adds=build_inventory(spark, [os.path.join(base, "f1.parquet")], root=base))

        client = SyncClient(spark)
        source = source_for(spark, TableFormat.DELTA, base)
        targets = [
            target_for(spark, TableFormat.ICEBERG, base),
            target_for(spark, TableFormat.HUDI, base),
        ]
        r1 = client.sync(source, targets)
        _require(all(r.status.value == "SUCCESS" for r in r1.values()), r1)

        # first-commit handles, one per format's own time-travel coordinate
        ice, hudi = IcebergTable(spark, base), HudiTimeline(spark, base)
        handles = {
            "delta_v1": log.latest_version(),
            "ice_s1": ice.metadata()["current-snapshot-id"],
            "hudi_i1": hudi.latest_instant(),
        }

        f2 = os.path.join(base, "f2.parquet")
        shutil.copy(os.path.join(sf, "region.parquet"), f2)
        log.commit(adds=build_inventory(spark, [f2], root=base))
        r2 = client.sync(source, targets)
        _require(all(r.status.value == "SUCCESS" for r in r2.values()), r2)
        _require(all(r.mode.value == "INCREMENTAL" for r in r2.values()), r2)
        _validate_staged(spark, base, "DELTA", ("ICEBERG", "HUDI"))
        return {"base": base, **handles}

    return _staged_once(spark, sf, "otb_2c_q", build)


@query(staged=True, oracle="""
        SELECT fmt, 'region.parquet' AS file_name,
               CAST(COUNT(*) AS BIGINT) AS record_count
        FROM region CROSS JOIN (VALUES ('DELTA'), ('ICEBERG'), ('HUDI')) f(fmt)
        GROUP BY fmt
    """)
def q_sync_inventory(spark: SparkSession, sf: str) -> DataFrame:
    """The metadata plane under the correctness gate: sync a parquet table
    into Delta + Iceberg + Hudi (full lifecycle: init, inventory with
    footer stats, transactional commit, watermark), then read each
    format's snapshot back and report (format, file, record_count). The
    oracle is plain SQL over the source table — so file-count AND
    footer-derived record counts must survive all three commit planes.
    The staged lifecycle builds once per (session, sf) via _staged_once."""
    import os
    import shutil

    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.model import TableFormat
    from onetable_spark.sync import SyncClient, source_for, target_for

    def build(b: str) -> str:
        shutil.copy(os.path.join(sf, "region.parquet"), os.path.join(b, "region.parquet"))
        client = SyncClient(spark)
        results = client.sync(
            source_for(spark, TableFormat.PARQUET, b),
            [
                target_for(spark, TableFormat.DELTA, b),
                target_for(spark, TableFormat.ICEBERG, b),
                target_for(spark, TableFormat.HUDI, b),
            ],
        )
        _require(all(r.status.value == "SUCCESS" for r in results.values()), results)
        # regression tripwire: the three freshly-bootstrapped targets must
        # agree with each other on schema/spec/counts/stats
        _validate_staged(spark, b, "DELTA", ("ICEBERG", "HUDI"))
        return b

    base = _staged_once(spark, sf, "otb_sync_q", build)
    readers = {
        "DELTA": DeltaLog(spark, base).snapshot_files(),
        "ICEBERG": IcebergTable(spark, base).snapshot_files(),
        "HUDI": HudiTimeline(spark, base).snapshot_files(),
    }
    out = None
    for fmt, files in readers.items():
        part = files.select(
            F.lit(fmt).alias("fmt"),
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("record_count"),
        )
        out = part if out is None else out.unionByName(part)
    return out


@query(staged=True, oracle="""
        SELECT fmt, 'add' AS change, 'f2.parquet' AS file_name,
               CAST(COUNT(*) AS BIGINT) AS record_count
        FROM region CROSS JOIN (VALUES ('DELTA'), ('ICEBERG'), ('HUDI')) f(fmt)
        GROUP BY fmt
    """)
def q_sync_changes(spark: SparkSession, sf: str) -> DataFrame:
    """The CHANGE-SCAN plane under the correctness gate (S2/S7/S11 —
    HudiDataFileExtractor.java:146-255, DeltaSourceClient.java:106-142,
    IcebergSourceClient.java:169-194): full sync of a Delta source into
    Iceberg + Hudi, then a second source commit synced INCREMENTALLY, then
    each format's change scan for its latest commit read back. The result
    is (format, change, file_name, record_count) for the incremental
    commit — the oracle knows exactly what must have happened: every
    format reports ADD of the second file with the source table's row
    count, and nothing removed. File record counts must survive three
    independent commit encodings (Delta stats JSON, Iceberg manifest avro,
    Hudi commit metadata). The two-commit lifecycle is the staged build
    SHARED with sync_time_travel (_two_commit_delta_stage)."""
    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.formats.iceberg import IcebergTable

    base = _two_commit_delta_stage(spark, sf)["base"]
    log = DeltaLog(spark, base)
    changes = {
        "DELTA": log.changes_for_version(log.latest_version()),
        "ICEBERG": IcebergTable(spark, base).changes_for_snapshot(
            IcebergTable(spark, base).metadata()["current-snapshot-id"]
        ),
        "HUDI": HudiTimeline(spark, base).changes_for_instant(
            HudiTimeline(spark, base).latest_instant()
        ),
    }
    out = None
    for fmt, tc in changes.items():
        part = tc.diff.added.select(
            F.lit(fmt).alias("fmt"),
            F.lit("add").alias("change"),
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("record_count"),
        )
        removed = tc.diff.removed.select(
            F.lit(fmt).alias("fmt"),
            F.lit("remove").alias("change"),
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.lit(None).cast("long").alias("record_count"),
        )
        both = part.unionByName(removed)
        out = both if out is None else out.unionByName(both)
    return out


@query(staged=True, oracle="""
        SELECT fmt, as_of, file_name, CAST(COUNT(*) AS BIGINT) AS record_count
        FROM region CROSS JOIN (VALUES
            ('DELTA', 'first', 'f1.parquet'),
            ('DELTA', 'latest', 'f1.parquet'),
            ('DELTA', 'latest', 'f2.parquet'),
            ('ICEBERG', 'first', 'f1.parquet'),
            ('ICEBERG', 'latest', 'f1.parquet'),
            ('ICEBERG', 'latest', 'f2.parquet'),
            ('HUDI', 'first', 'f1.parquet'),
            ('HUDI', 'latest', 'f1.parquet'),
            ('HUDI', 'latest', 'f2.parquet')
        ) t(fmt, as_of, file_name)
        GROUP BY fmt, as_of, file_name
    """)
def q_sync_time_travel(spark: SparkSession, sf: str) -> DataFrame:
    """TIME-TRAVEL reads under the correctness gate (the reference proves
    as-of equivalence across formats in its IT matrix,
    core/src/test/java/io/onetable/ITOneTableClient.java:358-419): build a
    Delta source with one file, full-sync to Iceberg + Hudi, capture each
    format's first-commit handle (Delta version, Iceberg snapshot-id, Hudi
    instant), add a second source file, sync INCREMENTALLY — then read
    every format both AS OF its first commit and at latest. The oracle
    knows the exact expected inventory: as-of shows only f1, latest shows
    f1+f2, each with the source table's row count, across all three
    independent time-travel decodings (Delta log replay to version,
    Iceberg snapshot lineage, Hudi timeline as-of filtering). The
    two-commit lifecycle is the staged build SHARED with sync_changes
    (_two_commit_delta_stage), which also captures the handles."""
    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.formats.iceberg import IcebergTable

    stage = _two_commit_delta_stage(spark, sf)
    base = stage["base"]
    log, ice, hudi = DeltaLog(spark, base), IcebergTable(spark, base), HudiTimeline(spark, base)
    delta_v1, ice_s1, hudi_i1 = stage["delta_v1"], stage["ice_s1"], stage["hudi_i1"]

    reads = {
        "DELTA": {"first": log.snapshot_files(version=delta_v1), "latest": log.snapshot_files()},
        "ICEBERG": {
            "first": ice.snapshot_files(snapshot_id=ice_s1),
            "latest": ice.snapshot_files(),
        },
        "HUDI": {"first": hudi.snapshot_files(instant=hudi_i1), "latest": hudi.snapshot_files()},
    }
    out = None
    for fmt, by_asof in reads.items():
        for asof, files in by_asof.items():
            part = files.select(
                F.lit(fmt).alias("fmt"),
                F.lit(asof).alias("as_of"),
                F.element_at(F.split("path", "/"), -1).alias("file_name"),
                F.col("record_count"),
            )
            out = part if out is None else out.unionByName(part)
    return out


@query(staged=True, oracle="""
        WITH rc AS (SELECT CAST(2 * COUNT(*) AS BIGINT) AS n_table_rows FROM region)
        SELECT fmt, ordinal, col_name, col_type, n_table_rows
        FROM (VALUES ('DELTA'), ('ICEBERG'), ('HUDI')) f(fmt)
        CROSS JOIN (VALUES
            (0, 'r_regionkey', 'int'),
            (1, 'r_name', 'string'),
            (2, 'r_extra', 'bigint')
        ) c(ordinal, col_name, col_type)
        CROSS JOIN rc
    """)
def q_sync_schema_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """SCHEMA-EVOLUTION sync under the correctness gate (K6,
    schema/evolution.py:85 — the reference exercises evolution inside its
    e2e matrix, ITOneTableClient.java schema-evolution sequences): full
    sync of a Delta source, then a second source commit that both ADDS a
    column (r_extra bigint, written in a real parquet file) and appends a
    file, synced INCREMENTALLY to Iceberg + Hudi. Each target's own
    metadata is then read back and the result is every format's final
    (ordinal, column, type) — evolution must append the new column at the
    end through three independent schema encodings (Delta schemaString,
    Iceberg field-id schema JSON, Hudi avro) — plus the per-format total
    record count from the stats plane, which the oracle derives from the
    source table. The staged lifecycle builds once per (session, sf)."""
    import json as _json
    import os
    import shutil

    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.model import Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory
    from onetable_spark.sync import SyncClient, source_for, target_for

    def build(base: str) -> str:
        shutil.copy(os.path.join(sf, "region.parquet"), os.path.join(base, "f1.parquet"))
        schema_v1 = spark.read.parquet(os.path.join(base, "f1.parquet")).schema
        log = DeltaLog(spark, base)
        log.init_table(
            Table(name="evo", base_path=base, table_format=TableFormat.DELTA, read_schema=schema_v1)
        )
        log.commit(adds=build_inventory(spark, [os.path.join(base, "f1.parquet")], root=base))

        client = SyncClient(spark)
        source = source_for(spark, TableFormat.DELTA, base)
        targets = [
            target_for(spark, TableFormat.ICEBERG, base),
            target_for(spark, TableFormat.HUDI, base),
        ]
        r1 = client.sync(source, targets)
        _require(all(r.status.value == "SUCCESS" for r in r1.values()), r1)

        # evolve the source: write f2 WITH the new column, commit it together
        # with the new schemaString (a legal add — the K6 gate verifies)
        stage = os.path.join(base, "_stage")
        spark.read.parquet(os.path.join(base, "f1.parquet")).withColumn(
            "r_extra", (F.col("r_regionkey") * 2).cast("long")
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        f2 = os.path.join(base, "f2.parquet")
        shutil.move(os.path.join(stage, part), f2)
        shutil.rmtree(stage)
        schema_v2 = spark.read.parquet(f2).schema
        meta = log.update_configuration({})
        meta["schemaString"] = _json.dumps(schema_v2.jsonValue())
        log.commit(adds=build_inventory(spark, [f2], root=base), metadata=meta)

        r2 = client.sync(source, targets)
        _require(all(r.status.value == "SUCCESS" for r in r2.values()), r2)
        _require(all(r.mode.value == "INCREMENTAL" for r in r2.values()), r2)
        _validate_staged(spark, base, "DELTA", ("ICEBERG", "HUDI"))
        return base

    base = _staged_once(spark, sf, "otb_evo_q", build)
    readers = {
        "DELTA": DeltaLog(spark, base),
        "ICEBERG": IcebergTable(spark, base),
        "HUDI": HudiTimeline(spark, base),
    }
    rows = []
    for fmt, reader in readers.items():
        fields = reader.table_descriptor().read_schema.fields
        # driver-ok: O(files) agg over the metadata inventory (3 files)
        n_rows = (
            reader.snapshot_files().agg(F.sum("record_count").cast("long")).first()[0]
        )
        for i, fld in enumerate(fields):
            rows.append((fmt, i, fld.name, fld.dataType.simpleString(), n_rows))
    return local_rows_df(
        spark, rows, "fmt string, ordinal int, col_name string, col_type string, n_table_rows long"
    )


# r7: the validator's ground truth is static — a healthy sync passes
# every check for every target; any drift flips a FALSE into the hash
@query(staged=True, oracle="""
        SELECT f.fmt, c.check_name, TRUE AS success
        FROM (VALUES ('ICEBERG'), ('HUDI')) f(fmt)
        CROSS JOIN (VALUES ('CHECK_TABLE_SPEC'), ('CHECK_SCHEMA'),
                           ('CHECK_BASIC_COUNTS'), ('COMPARE_STATISTICS')) c(check_name)
    """)
def q_sync_validation(spark: SparkSession, sf: str) -> DataFrame:
    """The VALIDATION plane under the correctness gate (api/.../model/
    validation/{ValidationCheck,Checker,Result}.java — declared but never
    implemented by the reference; sync/validation.py implements it for
    real): over the shared two-commit sync stage, run all four checks of
    each target's read-back against the Delta source — partition-spec
    parity, schema parity, file/row counts, per-file statistics — and
    report (fmt, check_name, success). The comparisons are DataFrame aggs
    and a full-outer per-file join (driver sees counters only), so the
    same validator runs unchanged on a million-file table. A drift in any
    of the three commit-plane encodings flips a FALSE into the hash."""
    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.sync.validation import SyncValidator

    # the validator's ~12 aggregation jobs over the (deterministic,
    # build-once) stage would otherwise re-execute on every call — compute
    # the plain-value facts once per (session, sf) like the stage itself
    key = ("sync_validation_facts", id(spark), sf)
    if key not in _CORPUS_CACHE:
        base = _two_commit_delta_stage(spark, sf)["base"]
        source = DeltaLog(spark, base)
        validator = SyncValidator()
        rows = []
        for fmt, reader in (
            ("ICEBERG", IcebergTable(spark, base)),
            ("HUDI", HudiTimeline(spark, base)),
        ):
            for check, res in validator.validate(source, reader).items():
                rows.append((fmt, check.value, res.success))
        _CORPUS_CACHE[key] = rows
    return local_rows_df(
        spark, _CORPUS_CACHE[key], "fmt string, check_name string, success boolean"
    )


# r7: the recovery lifecycle's observable facts are fully determined —
# initial FULL bootstrap, corruption clears the watermark, recovery
# re-syncs FULL, and the recovered table reads back exactly the source
@query(staged=True, oracle="""
        SELECT 'FULL' AS initial_mode, 'FULL' AS recovered_mode,
               TRUE AS watermark_cleared, CAST(1 AS BIGINT) AS n_files,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM region) AS n_records
    """)
def q_sync_recovery(spark: SparkSession, sf: str) -> DataFrame:
    """K12 CORRUPT-SNAPSHOT RECOVERY under the correctness gate
    (IcebergClient.java:251-285 / formats/iceberg.py recover_if_corrupt):
    sync a Delta source to Iceberg, then delete the current snapshot's
    manifest list (the crashed-writer / rename-race corruption the
    reference defends against). The watermark read must detect the
    corruption, roll the table back, and clear the sync watermark; the
    next sync must fall back to FULL and re-converge. The output pins the
    observable lifecycle: both syncs' modes, whether the watermark was
    cleared by recovery, and the files/records the recovered table reads
    back — which the oracle derives from the source table, so a recovery
    that loses or duplicates data hash-mismatches."""
    import os

    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.model import Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory
    from onetable_spark.sync import SyncClient, source_for, target_for

    def build(base: str) -> dict:
        import shutil

        shutil.copy(os.path.join(sf, "region.parquet"), os.path.join(base, "f1.parquet"))
        schema = spark.read.parquet(base).schema
        log = DeltaLog(spark, base)
        log.init_table(
            Table(name="rec", base_path=base, table_format=TableFormat.DELTA, read_schema=schema)
        )
        log.commit(adds=build_inventory(spark, [os.path.join(base, "f1.parquet")], root=base))
        client = SyncClient(spark)
        source = source_for(spark, TableFormat.DELTA, base)
        target = target_for(spark, TableFormat.ICEBERG, base)
        r1 = client.sync(source, [target])
        _require(r1[TableFormat.ICEBERG].status.value == "SUCCESS", r1)
        mode1 = r1[TableFormat.ICEBERG].mode.value

        # corrupt: delete the current snapshot's manifest list
        ice = IcebergTable(spark, base)
        os.remove(ice.current_snapshot_meta()["manifest-list"])

        # the watermark read performs the rollback + watermark clear
        watermark_cleared = target.get_sync_metadata() is None
        r2 = client.sync(source, [target])
        _require(r2[TableFormat.ICEBERG].status.value == "SUCCESS", r2)
        _validate_staged(spark, base, "DELTA", ("ICEBERG",))
        return {
            "base": base,
            "mode1": mode1,
            "mode2": r2[TableFormat.ICEBERG].mode.value,
            "watermark_cleared": watermark_cleared,
        }

    stage = _staged_once(spark, sf, "otb_rec_q", build)
    files = IcebergTable(spark, stage["base"]).snapshot_files()
    return files.agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("record_count").cast("long").alias("n_records"),
    ).select(
        F.lit(stage["mode1"]).alias("initial_mode"),
        F.lit(stage["mode2"]).alias("recovered_mode"),
        F.lit(stage["watermark_cleared"]).alias("watermark_cleared"),
        "n_files",
        "n_records",
    )


# r7: the spec-evolution lifecycle's observable facts are fully
# determined — Iceberg appends an immutable spec, Delta replays the
# generated partition column, Hudi's pinned config rejects the change
@query(staged=True, oracle="""
        SELECT * FROM (VALUES
            ('delta_descriptor', 'o_orderdate:MONTH'),
            ('delta_partition_columns', 'order_month'),
            ('hudi_spec_change_rejected', 'true'),
            ('iceberg_default_spec', '1'),
            ('iceberg_descriptor', 'o_orderdate:MONTH'),
            ('iceberg_field_id_monotonic', 'true'),
            ('iceberg_n_specs', '2'),
            ('iceberg_spec0_fields', 'o_orderpriority'),
            ('iceberg_spec1_fields', 'order_month'),
            ('iceberg_spec1_transform', 'month')
        ) t(item, value)
    """)
def q_sync_partition_evolution(spark: SparkSession, sf: str) -> DataFrame:
    """K7 PARTITION-SPEC EVOLUTION + K11 Hudi guardrail under the
    correctness gate (IcebergPartitionSpecSync.java:43-68 remove/add-by-
    name with fresh field-ids; HudiTableManager.java:190-240 pinned table
    config): sync the orders table partitioned by VALUE(o_orderpriority),
    then re-sync with MONTH(o_orderdate) — Iceberg must APPEND an
    immutable spec v1 (default moves, spec v0 untouched, new field-id
    above the old), Delta must replay its partitionColumns through the
    generated-column encoding, and the Hudi target must REJECT the change
    (its partition config is pinned at table creation). The output pins
    every observable: per-format final (source_field, transform), the
    Iceberg spec history + field-id monotonicity, the Delta physical
    column name, the Hudi rejection, and the per-format file counts."""
    import os
    import shutil

    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.model import (
        PartitionField,
        PartitionTransform,
        Snapshot,
        Table,
        TableFormat,
        TableMetadata,
    )
    from onetable_spark.sources.parquet_inventory import inventory_from_directory
    from onetable_spark.sync import target_for

    def build(base: str) -> dict:
        shutil.copy(os.path.join(sf, "orders.parquet"), os.path.join(base, "o1.parquet"))
        schema = spark.read.parquet(base).schema
        inv = inventory_from_directory(spark, base)

        def snap(pfields):
            return Snapshot(
                table=Table(
                    name="orders",
                    base_path=base,
                    table_format=TableFormat.PARQUET,
                    read_schema=schema,
                    partition_fields=pfields,
                ),
                files=inv,
                version="1",
            )

        v1 = (PartitionField(source_field="o_orderpriority"),)
        v2 = (
            PartitionField(
                source_field="o_orderdate",
                transform=PartitionTransform.MONTH,
                partition_field_name="order_month",
            ),
        )
        ice_t = target_for(spark, TableFormat.ICEBERG, base)
        del_t = target_for(spark, TableFormat.DELTA, base)
        hudi_t = target_for(spark, TableFormat.HUDI, base)
        for t in (ice_t, del_t, hudi_t):
            t.sync_snapshot(snap(v1), TableMetadata(1))
        ice_t.sync_snapshot(snap(v2), TableMetadata(2))
        del_t.sync_snapshot(snap(v2), TableMetadata(2))
        # the guardrail raises ValueError("partition spec change rejected…",
        # sync/client.py HudiTarget._validate_table_config); match it
        # specifically so an UNRELATED Hudi failure surfaces as a query
        # error instead of masquerading as the expected rejection
        hudi_rejected = False
        try:
            hudi_t.sync_snapshot(snap(v2), TableMetadata(2))
        except ValueError as e:
            if "partition spec change rejected" not in str(e):
                raise
            hudi_rejected = True

        # regression tripwire over the FINAL staged state, sourced from
        # Iceberg: Hudi's spec check is skipped because its spec DIVERGING
        # is the very behavior under test (pinned-config rejection); the
        # Delta schema check is skipped because Delta materializes the
        # generated partition column (order_month) as a physical schema
        # field by design (C5) — spec/counts/stats must still agree, and
        # v1/v2 carry the identical file inventory
        _validate_staged(
            spark,
            base,
            "ICEBERG",
            ("DELTA", "HUDI"),
            skip_spec=("HUDI",),
            skip_schema=("DELTA",),
        )

        ice = IcebergTable(spark, base)
        md = ice.metadata()
        old_spec = next(s for s in md["partition-specs"] if s["spec-id"] == 0)
        new_spec = ice._spec_for(md)
        facts = {
            "iceberg_default_spec": str(md["default-spec-id"]),
            "iceberg_n_specs": str(len(md["partition-specs"])),
            "iceberg_spec0_fields": ",".join(f["name"] for f in old_spec["fields"]),
            "iceberg_spec1_fields": ",".join(f["name"] for f in new_spec),
            "iceberg_spec1_transform": new_spec[0]["transform"],
            "iceberg_field_id_monotonic": str(
                new_spec[0]["field-id"] > old_spec["fields"][0]["field-id"]
            ).lower(),
            "iceberg_descriptor": ";".join(
                f"{p.source_field}:{p.transform.value}"
                for p in ice.table_descriptor().partition_fields
            ),
            "delta_partition_columns": ",".join(
                DeltaLog(spark, base).snapshot_info().metadata["partitionColumns"]
            ),
            "delta_descriptor": ";".join(
                f"{p.source_field}:{p.transform.value}"
                for p in DeltaLog(spark, base).table_descriptor().partition_fields
            ),
            "hudi_spec_change_rejected": str(hudi_rejected).lower(),
        }
        return {"base": base, "facts": facts}

    stage = _staged_once(spark, sf, "otb_pspec_q", build)
    rows = sorted(stage["facts"].items())
    return local_rows_df(spark, rows, "item string, value string")


# r13: region is ALWAYS 5 rows (r_regionkey 0-4) and murmur3 bucket
# assignment is a spec-pinned pure function (Appendix-B vectors in
# tests/test_bucket_transform.py), so the bucket ids are constants
# the oracle states outright: {0:0, 1:0, 2:0, 3:3, 4:2} → dirs 0,2,3.
# n_records stays data-derived so a row-loss in the sync still fails.
@query(staged=True, oracle="""
        SELECT * FROM (VALUES
            ('bucket_assignment_ok', 'true'),
            ('bucket_dirs', '0,2,3'),
            ('cross_format_counts_ok', 'true'),
            ('delta_partition_columns', 'rk_bucket'),
            ('hudi_partition_fields', 'rk_bucket'),
            ('iceberg_descriptor', 'r_regionkey:BUCKET[4]'),
            ('iceberg_spec_transform', 'bucket[4]'),
            ('n_records', CAST((SELECT COUNT(*) FROM region) AS VARCHAR)),
            ('truncate_descriptor', 'r_name:TRUNCATE[2]'),
            ('truncate_spec_transform', 'truncate[2]'),
            -- truncate[2] partition dirs ARE the 2-char name prefixes —
            -- derived from the data, not hardcoded
            ('truncate_dirs', (SELECT string_agg(p, ',' ORDER BY p) FROM
                (SELECT DISTINCT substr(r_name, 1, 2) AS p FROM region)))
        ) t(item, value)
    """)
def q_sync_bucket_spec(spark: SparkSession, sf: str) -> DataFrame:
    """BUCKET-TRANSFORM partition spec synced across all three formats
    (r13, C6+C9 BEYOND the reference — IcebergPartitionSpecExtractor.java:
    81-141 throws on bucket/truncate even though bucketing is the most
    common Iceberg layout in practice): stage an Iceberg table
    partitioned ``bucket[4]`` on r_regionkey (spec-true murmur3, pinned
    against the Iceberg spec's Appendix-B vectors in
    tests/test_bucket_transform.py), then sync it into Delta and Hudi,
    where the transform DOWNGRADES to identity on the materialized
    ``rk_bucket`` column — the same fallback Iceberg's own Spark
    integration uses for engine-inexpressible transforms. The output pins
    every observable: the spec string round-trip (``bucket[4]``), the IR
    descriptor (BUCKET:4 on r_regionkey), each target's physical
    partition column, per-bucket record counts matched across ALL THREE
    read surfaces, and bucket assignment recomputed row-by-row against
    the write path. Region always has exactly 5 rows (r_regionkey 0-4),
    so the bucket ids are spec-determined constants the DuckDB oracle
    hardcodes: {0:0, 1:0, 2:0, 3:3, 4:2} → dirs {0, 2, 3}."""
    import os

    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.model import (
        PartitionField,
        PartitionTransform,
        Table,
        TableFormat,
        TableMetadata,
    )
    from onetable_spark.schema.partitions import bucket_column
    from onetable_spark.sources.parquet_inventory import build_inventory
    from onetable_spark.sync import SyncClient, source_for, target_for

    def build(base: str) -> dict:
        tbl = os.path.join(base, "bucket_table")
        os.makedirs(tbl)
        src = spark.read.parquet(os.path.join(sf, "region.parquet"))
        # write-side transform evaluation: one hive dir per present bucket
        (
            src.withColumn("rk_bucket", bucket_column("r_regionkey", 4))
            .repartition("rk_bucket")
            .write.partitionBy("rk_bucket")
            .parquet(tbl, mode="append")
        )
        data_files = sorted(
            os.path.join(dp, f)
            for dp, _, fs in os.walk(tbl)
            for f in fs
            if f.endswith(".parquet")
        )
        schema = src.schema
        ice = IcebergTable(spark, tbl)
        ice.init_table(
            Table(
                name="bucketed",
                base_path=tbl,
                table_format=TableFormat.ICEBERG,
                read_schema=schema,
                partition_fields=(
                    PartitionField(
                        source_field="r_regionkey",
                        transform=PartitionTransform.BUCKET,
                        partition_field_name="rk_bucket",
                        transform_arg=4,
                    ),
                ),
            )
        )
        ice.commit_overwrite(
            adds=build_inventory(
                spark, data_files, root=tbl, partition_cols=["rk_bucket"]
            )
        )

        client = SyncClient(spark)
        source = source_for(spark, TableFormat.ICEBERG, tbl)
        targets = [
            target_for(spark, TableFormat.DELTA, tbl),
            target_for(spark, TableFormat.HUDI, tbl),
        ]
        results = client.sync(source, targets)
        for fmt, r in results.items():
            _require(r.status.value == "SUCCESS", (fmt, r))

        # regression tripwire: counts/stats must agree; spec checks are
        # skipped because the bucket→identity DOWNGRADE is the behavior
        # under test, and Delta materializes rk_bucket as a schema column
        _validate_staged(
            spark,
            tbl,
            "ICEBERG",
            ("DELTA", "HUDI"),
            skip_spec=("DELTA", "HUDI"),
            skip_schema=("DELTA",),
        )

        # per-bucket record counts from all three read surfaces
        def bucket_counts(files_df) -> dict:
            agg = files_df.groupBy(
                F.col("partition_values")["rk_bucket"].alias("b")
            ).agg(F.sum("record_count").cast("long").alias("n"))
            # driver-ok: ≤4 aggregated rows (one per bucket) by construction
            return {r["b"]: r["n"] for r in agg.collect()}

        ice_counts = bucket_counts(ice.snapshot_files())
        delta_counts = bucket_counts(DeltaLog(spark, tbl).snapshot_files())
        hudi_counts = bucket_counts(HudiTimeline(spark, tbl).snapshot_files())

        # row-level check: every row's physical dir matches a fresh
        # recomputation of its spec bucket (read-side vs write-side)
        # basePath keeps hive-partition inference rooted at the table while
        # reading only the data files (the Iceberg metadata/ dir cohabits)
        mismatches = (
            spark.read.option("basePath", tbl)
            .parquet(*data_files)
            .where(F.col("rk_bucket") != bucket_column("r_regionkey", 4))
            .count()
        )

        # sibling TRUNCATE[2] table on r_name (same lifecycle, C6's other
        # parameterized transform): dirs are the 2-char name prefixes, so
        # the oracle derives them straight from the region data
        from onetable_spark.schema.partitions import transform_column
        from pyspark.sql import types as _T

        pf_t = PartitionField(
            source_field="r_name",
            transform=PartitionTransform.TRUNCATE,
            partition_field_name="name_trunc",
            transform_arg=2,
        )
        ttbl = os.path.join(base, "trunc_table")
        os.makedirs(ttbl)
        (
            src.withColumn("name_trunc", transform_column(pf_t, _T.StringType()))
            .repartition("name_trunc")
            .write.partitionBy("name_trunc")
            .parquet(ttbl, mode="append")
        )
        t_files = sorted(
            os.path.join(dp, f)
            for dp, _, fs in os.walk(ttbl)
            for f in fs
            if f.endswith(".parquet")
        )
        tice = IcebergTable(spark, ttbl)
        tice.init_table(
            Table(
                name="truncated", base_path=ttbl,
                table_format=TableFormat.ICEBERG, read_schema=schema,
                partition_fields=(pf_t,),
            )
        )
        tice.commit_overwrite(
            adds=build_inventory(
                spark, t_files, root=ttbl, partition_cols=["name_trunc"]
            )
        )
        tdesc = tice.table_descriptor().partition_fields[0]
        t_dir_df = (
            tice.snapshot_files()
            .select(F.col("partition_values")["name_trunc"].alias("d"))
            .distinct()
        )
        # driver-ok: ≤5 aggregated rows (one per 2-char prefix dir)
        t_dirs = sorted(r["d"] for r in t_dir_df.collect())

        md = ice.metadata()
        spec = ice._spec_for(md)
        pf = ice.table_descriptor().partition_fields[0]
        facts = {
            "iceberg_spec_transform": spec[0]["transform"],
            "iceberg_descriptor": (
                f"{pf.source_field}:{pf.transform.value}[{pf.transform_arg}]"
            ),
            "delta_partition_columns": ",".join(
                DeltaLog(spark, tbl).snapshot_info().metadata["partitionColumns"]
            ),
            "hudi_partition_fields": HudiTimeline(spark, tbl).table_properties()[
                "hoodie.table.partition.fields"
            ],
            "bucket_assignment_ok": str(mismatches == 0).lower(),
            "cross_format_counts_ok": str(
                ice_counts == delta_counts == hudi_counts and len(ice_counts) > 0
            ).lower(),
            "bucket_dirs": ",".join(sorted(ice_counts)),
            "n_records": str(sum(ice_counts.values())),
            "truncate_descriptor": (
                f"{tdesc.source_field}:{tdesc.transform.value}[{tdesc.transform_arg}]"
            ),
            "truncate_spec_transform": tice._spec_for(tice.metadata())[0]["transform"],
            "truncate_dirs": ",".join(t_dirs),
        }
        return {"facts": facts}

    stage = _staged_once(spark, sf, "otb_bspec_q", build)
    rows = sorted(stage["facts"].items())
    return local_rows_df(spark, rows, "item string, value string")


# r14: decimal buckets are spec constants for region's 5 derived
# prices {0.25:3, 1.25:2, 2.25:1, 3.25:3, 4.25:0} → dirs 0,1,2,3
# (unscaled big-endian bytes → murmur3, vectors pinned in tests)
@query(staged=True, oracle="""
        SELECT * FROM (VALUES
            ('bucket_assignment_ok', 'true'),
            ('bucket_dirs', '0,1,2,3'),
            ('cross_format_counts_ok', 'true'),
            ('delta_partition_columns', 'price_bucket'),
            ('hudi_partition_fields', 'price_bucket'),
            ('iceberg_descriptor', 'r_price:BUCKET[4]'),
            ('iceberg_spec_transform', 'bucket[4]'),
            ('n_records', CAST((SELECT COUNT(*) FROM region) AS VARCHAR))
        ) t(item, value)
    """)
def q_sync_bucket_decimal(spark: SparkSession, sf: str) -> DataFrame:
    """BUCKET over a DECIMAL column (r14 — completes C6's Appendix-B type
    coverage; ``sync_bucket_spec``'s sibling): decimals bucket by hashing
    the MINIMAL-length big-endian two's-complement of their unscaled
    value (spec vectors pinned in tests/test_bucket_transform.py — 14.20
    → bytes 05 8C → -500754589). The staged lifecycle derives
    ``r_price = r_regionkey + 0.25`` as DECIMAL(9,2), writes one hive dir
    per bucket[4], registers the Iceberg spec, syncs into Delta and Hudi
    (identity downgrade on the materialized ``price_bucket``), and pins:
    the spec round-trip, per-bucket counts matched across all three read
    surfaces, and row-by-row bucket recomputation. Region is always 5
    rows, so the buckets are spec constants the oracle hardcodes:
    {0.25:3, 1.25:2, 2.25:1, 3.25:3, 4.25:0} → dirs 0,1,2,3."""
    import decimal as _dec
    import os

    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.model import (
        PartitionField,
        PartitionTransform,
        Table,
        TableFormat,
    )
    from onetable_spark.schema.partitions import bucket_column
    from onetable_spark.sources.parquet_inventory import build_inventory
    from onetable_spark.sync import SyncClient, source_for, target_for
    from pyspark.sql import types as _T

    def build(base: str) -> dict:
        tbl = os.path.join(base, "bucket_dec")
        os.makedirs(tbl)
        src = spark.read.parquet(os.path.join(sf, "region.parquet")).withColumn(
            "r_price",
            (F.col("r_regionkey") + F.lit(_dec.Decimal("0.25"))).cast(
                _T.DecimalType(9, 2)
            ),
        )
        (
            src.withColumn("price_bucket", bucket_column("r_price", 4))
            .repartition("price_bucket")
            .write.partitionBy("price_bucket")
            .parquet(tbl, mode="append")
        )
        data_files = sorted(
            os.path.join(dp, f)
            for dp, _, fs in os.walk(tbl)
            for f in fs
            if f.endswith(".parquet")
        )
        ice = IcebergTable(spark, tbl)
        ice.init_table(
            Table(
                name="bucketed_dec",
                base_path=tbl,
                table_format=TableFormat.ICEBERG,
                read_schema=src.schema,
                partition_fields=(
                    PartitionField(
                        source_field="r_price",
                        transform=PartitionTransform.BUCKET,
                        partition_field_name="price_bucket",
                        transform_arg=4,
                    ),
                ),
            )
        )
        ice.commit_overwrite(
            adds=build_inventory(
                spark, data_files, root=tbl, partition_cols=["price_bucket"]
            )
        )

        client = SyncClient(spark)
        source = source_for(spark, TableFormat.ICEBERG, tbl)
        targets = [
            target_for(spark, TableFormat.DELTA, tbl),
            target_for(spark, TableFormat.HUDI, tbl),
        ]
        results = client.sync(source, targets)
        for fmt, r in results.items():
            _require(r.status.value == "SUCCESS", (fmt, r))
        _validate_staged(
            spark,
            tbl,
            "ICEBERG",
            ("DELTA", "HUDI"),
            skip_spec=("DELTA", "HUDI"),
            skip_schema=("DELTA",),
        )

        def bucket_counts(files_df) -> dict:
            agg = files_df.groupBy(
                F.col("partition_values")["price_bucket"].alias("b")
            ).agg(F.sum("record_count").cast("long").alias("n"))
            # driver-ok: ≤4 aggregated rows (one per bucket)
            return {r["b"]: r["n"] for r in agg.collect()}

        ice_counts = bucket_counts(ice.snapshot_files())
        delta_counts = bucket_counts(DeltaLog(spark, tbl).snapshot_files())
        hudi_counts = bucket_counts(HudiTimeline(spark, tbl).snapshot_files())
        mismatches = (
            spark.read.option("basePath", tbl)
            .parquet(*data_files)
            .where(F.col("price_bucket") != bucket_column("r_price", 4))
            .count()
        )
        pf = ice.table_descriptor().partition_fields[0]
        facts = {
            "iceberg_spec_transform": ice._spec_for(ice.metadata())[0]["transform"],
            "iceberg_descriptor": (
                f"{pf.source_field}:{pf.transform.value}[{pf.transform_arg}]"
            ),
            "delta_partition_columns": ",".join(
                DeltaLog(spark, tbl).snapshot_info().metadata["partitionColumns"]
            ),
            "hudi_partition_fields": HudiTimeline(spark, tbl).table_properties()[
                "hoodie.table.partition.fields"
            ],
            "bucket_assignment_ok": str(mismatches == 0).lower(),
            "cross_format_counts_ok": str(
                ice_counts == delta_counts == hudi_counts and len(ice_counts) > 0
            ).lower(),
            "bucket_dirs": ",".join(sorted(ice_counts)),
            "n_records": str(sum(ice_counts.values())),
        }
        return {"facts": facts}

    stage = _staged_once(spark, sf, "otb_bdec_q", build)
    rows = sorted(stage["facts"].items())
    return local_rows_df(spark, rows, "item string, value string")


# r7: the safety-fallback lifecycle's observable facts are fully
# determined — cleanup strands the watermark, the probe reports
# unsafe, the fallback FULL-recovers to an exact 4-file read-back
@query(staged=True, oracle="""
        SELECT 'FULL' AS initial_mode, FALSE AS safe_after_cleanup,
               'FULL' AS fallback_mode, CAST(4 AS BIGINT) AS n_files,
               (SELECT CAST(4 * COUNT(*) AS BIGINT) FROM region) AS n_records
    """)
def q_sync_safety_fallback(spark: SparkSession, sf: str) -> DataFrame:
    """S8/S9 HISTORY-CLEANUP SAFETY under the correctness gate
    (DeltaSourceClient safety probe / sync/client.py DeltaSource.
    is_incremental_sync_safe_from + the planner's FULL fallback,
    OneTableClient.java:84-139): sync a Delta source to Iceberg, advance
    the source three commits, then CHECKPOINT and CLEAN the log with zero
    retention — the commits the target's watermark points into are gone.
    The safety probe (in-commit timestamps, not file mtimes) must report
    the incremental path unsafe, and the next sync must fall back to a
    FULL snapshot re-sync that still converges the target to the exact
    source inventory (replayed from the checkpoint). Output pins the
    lifecycle: both sync modes, the safety verdict, commits surviving the
    clean, and the recovered table's files/records (oracle-derived from
    the source table)."""
    import os
    import shutil

    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.model import Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory
    from onetable_spark.sync import SyncClient, source_for, target_for

    def build(base: str) -> dict:
        import time as _time

        shutil.copy(os.path.join(sf, "region.parquet"), os.path.join(base, "f1.parquet"))
        schema = spark.read.parquet(base).schema
        log = DeltaLog(spark, base)
        log.init_table(
            Table(name="safe", base_path=base, table_format=TableFormat.DELTA, read_schema=schema)
        )
        log.commit(adds=build_inventory(spark, [os.path.join(base, "f1.parquet")], root=base))
        client = SyncClient(spark)
        source = source_for(spark, TableFormat.DELTA, base)
        target = target_for(spark, TableFormat.ICEBERG, base)
        r1 = client.sync(source, [target])
        _require(r1[TableFormat.ICEBERG].status.value == "SUCCESS", r1)
        watermark = target.get_sync_metadata().last_instant_synced_millis

        # source advances 3 commits, then history maintenance removes the
        # pre-checkpoint commit files the watermark points into
        for i in (2, 3, 4):
            _time.sleep(0.05)  # distinct in-commit timestamps
            f = os.path.join(base, f"f{i}.parquet")
            shutil.copy(os.path.join(sf, "region.parquet"), f)
            log.commit(adds=build_inventory(spark, [f], root=base))
        log.checkpoint()
        n_cleaned = log.clean_log(retention_hours=0)
        _require(n_cleaned > 0, "log cleanup removed nothing — staging is broken")

        safe = source.is_incremental_sync_safe_from(watermark)
        r2 = client.sync(source, [target])
        _require(r2[TableFormat.ICEBERG].status.value == "SUCCESS", r2)
        _validate_staged(spark, base, "DELTA", ("ICEBERG",))
        return {
            "base": base,
            "mode1": r1[TableFormat.ICEBERG].mode.value,
            "safe_after_cleanup": safe,
            "mode2": r2[TableFormat.ICEBERG].mode.value,
        }

    stage = _staged_once(spark, sf, "otb_safe_q", build)
    files = IcebergTable(spark, stage["base"]).snapshot_files()
    return files.agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("record_count").cast("long").alias("n_records"),
    ).select(
        F.lit(stage["mode1"]).alias("initial_mode"),
        F.lit(stage["safe_after_cleanup"]).alias("safe_after_cleanup"),
        F.lit(stage["mode2"]).alias("fallback_mode"),
        "n_files",
        "n_records",
    )


# r7: the catch-up lifecycle's observable facts are fully determined —
# the stale Iceberg target replays incrementally, the late-added Hudi
# target FULL-bootstraps, both converge to the same 3-file head
@query(staged=True, oracle="""
        SELECT f.fmt, f.catchup_mode, CAST(3 AS BIGINT) AS n_files,
               (SELECT CAST(3 * COUNT(*) AS BIGINT) FROM region) AS n_records,
               TRUE AS watermarks_converged
        FROM (VALUES ('HUDI', 'FULL'), ('ICEBERG', 'INCREMENTAL')) f(fmt, catchup_mode)
    """)
def q_sync_catchup(spark: SparkSession, sf: str) -> DataFrame:
    """Out-of-sync-target convergence under the correctness gate
    (ITOneTableClient.java:549-596 parity — the reference's
    testOutOfSyncIncrementalSyncs, the last unported IT scenario): sync a
    Delta source's first commit to Iceberg ONLY, advance the source two
    commits, then add a never-synced Hudi target and run ONE sync() over
    both. The planner must converge them in that single call — Iceberg
    replays its two missed commits INCREMENTALLY (per-target mode planning
    + commit pruning, OneTableClient.java:149-173 / TableFormatSync.java:
    135-144) while Hudi, having no watermark, falls back to a FULL
    bootstrap — and both watermarks must land on the same source head.
    Output pins each target's catch-up mode, its post-sync inventory
    (files + records, oracle-derived from the staged source lifecycle),
    and the watermark-convergence boolean; a planner that re-applied or
    skipped a commit changes n_files/n_records, one that picked the wrong
    mode changes catchup_mode — either flips the hash."""
    import os
    import shutil

    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.model import Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory
    from onetable_spark.sync import SyncClient, source_for, target_for

    def build(base: str) -> dict:
        import time as _time

        shutil.copy(os.path.join(sf, "region.parquet"), os.path.join(base, "f1.parquet"))
        schema = spark.read.parquet(base).schema
        log = DeltaLog(spark, base)
        log.init_table(
            Table(
                name="catchup", base_path=base, table_format=TableFormat.DELTA, read_schema=schema
            )
        )
        log.commit(adds=build_inventory(spark, [os.path.join(base, "f1.parquet")], root=base))

        client = SyncClient(spark)
        source = source_for(spark, TableFormat.DELTA, base)
        iceberg = target_for(spark, TableFormat.ICEBERG, base)
        hudi = target_for(spark, TableFormat.HUDI, base)

        # commit 1 reaches Iceberg only — the Hudi target does not exist yet
        r1 = client.sync(source, [iceberg])
        _require(r1[TableFormat.ICEBERG].status.value == "SUCCESS", r1)

        # source advances 2 commits: Iceberg is stale by 2, Hudi by all 3
        for i in (2, 3):
            _time.sleep(0.05)  # distinct in-commit timestamps
            f = os.path.join(base, f"f{i}.parquet")
            shutil.copy(os.path.join(sf, "region.parquet"), f)
            log.commit(adds=build_inventory(spark, [f], root=base))

        # ONE sync call over both targets converges them
        r2 = client.sync(source, [iceberg, hudi])
        _require(all(r.status.value == "SUCCESS" for r in r2.values()), r2)
        converged = (
            iceberg.get_sync_metadata().last_instant_synced_millis
            == hudi.get_sync_metadata().last_instant_synced_millis
        )
        _validate_staged(spark, base, "DELTA", ("ICEBERG", "HUDI"))
        return {
            "base": base,
            "modes": {
                "ICEBERG": r2[TableFormat.ICEBERG].mode.value,
                "HUDI": r2[TableFormat.HUDI].mode.value,
            },
            "converged": bool(converged),
        }

    stage = _staged_once(spark, sf, "otb_catchup_q", build)
    readers = {
        "ICEBERG": lambda p: IcebergTable(spark, p),
        "HUDI": lambda p: HudiTimeline(spark, p),
    }
    out = None
    for fmt, mk in readers.items():
        files = mk(stage["base"]).snapshot_files()
        part = files.agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("record_count").cast("long").alias("n_records"),
        ).select(
            F.lit(fmt).alias("fmt"),
            F.lit(stage["modes"][fmt]).alias("catchup_mode"),
            "n_files",
            "n_records",
            F.lit(stage["converged"]).alias("watermarks_converged"),
        )
        out = part if out is None else out.unionByName(part)
    return out


FOREIGN_FIXTURES = "/root/reference/demo/data/db"


# DuckDB counts the REAL-runtime-written fixture parquet directly;
# the Spark side must reproduce those counts purely from decoding the
# foreign Delta log / Hudi commit metadata (and from our own targets'
# re-encodings of it) — a genuine cross-engine conformance oracle.
@query(staged=True, oracle="""
        SELECT 'dimGeography' AS tbl, fmt,
               'part-00000-6ccb71bc-9cc1-4226-a7b5-f752edbedee6-c000.snappy.parquet'
                   AS file_name,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM read_parquet(
                   '/root/reference/demo/data/db/delta_dimGeography/*.parquet'))
                   AS record_count,
               TRUE AS validation_ok
        FROM (VALUES ('DELTA'), ('ICEBERG'), ('HUDI')) f(fmt)
        UNION ALL
        SELECT 'dimCustomer' AS tbl, fmt,
               'b1ee44c7-255b-47bf-b788-1e7017790326-0_0-80-172_20231105172136406.parquet'
                   AS file_name,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM read_parquet(
                   '/root/reference/demo/data/db/hudi_dimCustomer/*.parquet'))
                   AS record_count,
               TRUE AS validation_ok
        FROM (VALUES ('DELTA'), ('ICEBERG'), ('HUDI')) f(fmt)
    """)
def q_sync_foreign_table(spark: SparkSession, sf: str) -> DataFrame:
    """FOREIGN-TABLE conformance under the correctness gate (the
    reference's equivalence oracle, ITOneTableClient.java:716-813, run in
    reverse): the native planes read metadata they did NOT write. The
    reference ships two genuine real-runtime fixture tables —
    demo/data/db/delta_dimGeography (real delta-spark 3.2 ``_delta_log``)
    and demo/data/db/hudi_dimCustomer (real Hudi 0.14: pretty-printed
    commit JSON, Avro schema in extraMetadata, HFILE metadata table,
    full 3-file timeline). Each is copied to scratch, opened with the
    native DeltaLog/HudiTimeline reader, synced into the other two
    formats, and ALL THREE formats' snapshot read-backs are emitted as
    (tbl, fmt, file_name, record_count, validation_ok) where
    validation_ok ANDs the four SyncValidator checks of each target
    against its foreign source. The oracle is DuckDB counting rows of
    the SAME parquet files directly — our record counts come only from
    decoding the foreign metadata (Delta stats JSON / Hudi write stats)
    and surviving our own three commit planes, so the hash is a genuine
    cross-engine conformance check. sf-independent by construction (the
    fixtures are fixed); staged once per session."""
    import os
    import shutil

    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.model import TableFormat
    from onetable_spark.sync import SyncClient, source_for, target_for
    from onetable_spark.sync.validation import SyncValidator

    def build(base: str) -> list[tuple]:
        dd = os.path.join(base, "delta_dimGeography")
        hd = os.path.join(base, "hudi_dimCustomer")
        shutil.copytree(os.path.join(FOREIGN_FIXTURES, "delta_dimGeography"), dd)
        shutil.copytree(os.path.join(FOREIGN_FIXTURES, "hudi_dimCustomer"), hd)
        client = SyncClient(spark)
        r1 = client.sync(
            source_for(spark, TableFormat.DELTA, dd),
            [target_for(spark, TableFormat.ICEBERG, dd), target_for(spark, TableFormat.HUDI, dd)],
        )
        r2 = client.sync(
            source_for(spark, TableFormat.HUDI, hd),
            [target_for(spark, TableFormat.DELTA, hd), target_for(spark, TableFormat.ICEBERG, hd)],
        )
        for r in list(r1.values()) + list(r2.values()):
            if r.status.value != "SUCCESS":
                raise RuntimeError(f"foreign-table sync failed: {r}")
        validator = SyncValidator()
        validation_ok: dict[tuple[str, str], bool] = {}
        for tbl, path, src_fmt in (
            ("dimGeography", dd, "DELTA"),
            ("dimCustomer", hd, "HUDI"),
        ):
            readers = {
                "DELTA": DeltaLog(spark, path),
                "ICEBERG": IcebergTable(spark, path),
                "HUDI": HudiTimeline(spark, path),
            }
            for fmt, reader in readers.items():
                validation_ok[(tbl, fmt)] = fmt == src_fmt or all(
                    v.success
                    for v in validator.validate(readers[src_fmt], reader).values()
                )
        return {"delta": dd, "hudi": hd, "ok": validation_ok}

    stage = _staged_once(spark, sf, "otb_foreign_q", build)
    out = None
    for tbl, path in (("dimGeography", stage["delta"]), ("dimCustomer", stage["hudi"])):
        for fmt, reader in (
            ("DELTA", DeltaLog(spark, path)),
            ("ICEBERG", IcebergTable(spark, path)),
            ("HUDI", HudiTimeline(spark, path)),
        ):
            part = reader.snapshot_files().select(
                F.lit(tbl).alias("tbl"),
                F.lit(fmt).alias("fmt"),
                F.element_at(F.split("path", "/"), -1).alias("file_name"),
                F.col("record_count"),
                F.lit(stage["ok"][(tbl, fmt)]).alias("validation_ok"),
            )
            out = part if out is None else out.unionByName(part)
    return out


# the foreign fixture's data files are exact row-subsets of region
# (A: r_regionkey < 2, B: >= 2), so DuckDB recomputes the counts AND
# the manifest bounds the Spark side decodes from reference-written
# Avro; bounds surface only on the ICEBERG (source-read) rows
@query(staged=True, oracle="""
        WITH per_file AS (
            SELECT CASE WHEN r_regionkey < 2 THEN 'A.parquet'
                        ELSE 'B.parquet' END AS file_name,
                   CAST(COUNT(*) AS BIGINT) AS record_count,
                   CAST(MIN(r_regionkey) AS VARCHAR) AS min_rk,
                   CAST(MAX(r_regionkey) AS VARCHAR) AS max_rk
            FROM region GROUP BY 1
        )
        SELECT fmt, file_name, record_count,
               CASE WHEN fmt = 'ICEBERG' THEN min_rk END AS min_rk,
               CASE WHEN fmt = 'ICEBERG' THEN max_rk END AS max_rk,
               TRUE AS validation_ok
        FROM per_file
        CROSS JOIN (VALUES ('ICEBERG'), ('DELTA'), ('HUDI')) f(fmt)
    """)
def q_sync_foreign_iceberg(spark: SparkSession, sf: str) -> DataFrame:
    """ICEBERG foreign-table conformance WITHOUT an Iceberg runtime (the
    r10 closure of the last self-certification hole): the source table's
    v2 metadata — metadata.json, deflate-compressed manifest list and
    manifests with v2-only fields and real Appendix-D column bounds — is
    authored by tools/foreign_iceberg.py through the Apache Avro REFERENCE
    implementation (org.apache.avro on the JVM), so not one metadata byte
    comes from this repo's codec or writer. The native Iceberg plane reads
    it (2 snapshots, carried EXISTING entries, identifier-field-ids →
    record keys), syncs it into Delta + Hudi, and all three formats emit
    (fmt, file_name, record_count, min_rk, max_rk, validation_ok) where
    the bounds surface ONLY from decoding the foreign manifests (source
    rows) and validation_ok ANDs the four SyncValidator checks per target.
    The oracle recomputes every number from the region table itself — the
    data files are true r_regionkey<2 / >=2 row-subsets — so record counts
    AND decoded bounds are cross-engine checked (ITOneTableClient.java:
    716-813 equivalence with the write side replaced by an independent
    author). sf-correct by construction; staged once per session."""
    import os

    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.model import TableFormat
    from onetable_spark.sync import SyncClient, source_for, target_for
    from onetable_spark.sync.validation import SnapshotReaderAdapter, SyncValidator

    def build(base: str) -> dict:
        from tools.foreign_iceberg import write_foreign_iceberg_table

        tbl_dir = os.path.join(base, "region")
        os.makedirs(tbl_dir)
        write_foreign_iceberg_table(spark, tbl_dir, os.path.join(sf, "region.parquet"))
        client = SyncClient(spark)
        source = source_for(spark, TableFormat.ICEBERG, tbl_dir)
        targets = [
            target_for(spark, TableFormat.DELTA, tbl_dir),
            target_for(spark, TableFormat.HUDI, tbl_dir),
        ]
        results = client.sync(source, targets)
        for r in results.values():
            if r.status.value != "SUCCESS":
                raise RuntimeError(f"foreign-iceberg sync failed: {r}")
        validator = SyncValidator()
        ok: dict[str, bool] = {"ICEBERG": True}
        for fmt, reader in (
            ("DELTA", DeltaLog(spark, tbl_dir)),
            ("HUDI", HudiTimeline(spark, tbl_dir)),
        ):
            ok[fmt] = all(
                v.success
                for v in validator.validate(SnapshotReaderAdapter(source), reader).values()
            )
        return {"dir": tbl_dir, "ok": ok}

    stage = _staged_once(spark, sf, "otb_fice_q", build)
    rk_stat = F.filter("column_stats", lambda s: s["field"] == F.lit("r_regionkey"))
    out = None
    for fmt, reader in (
        ("ICEBERG", IcebergTable(spark, stage["dir"])),
        ("DELTA", DeltaLog(spark, stage["dir"])),
        ("HUDI", HudiTimeline(spark, stage["dir"])),
    ):
        part = reader.snapshot_files().select(
            F.lit(fmt).alias("fmt"),
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("record_count"),
            (
                F.element_at(rk_stat, 1)["min_value"]
                if fmt == "ICEBERG"
                else F.lit(None).cast("string")
            ).alias("min_rk"),
            (
                F.element_at(rk_stat, 1)["max_value"]
                if fmt == "ICEBERG"
                else F.lit(None).cast("string")
            ).alias("max_rk"),
            F.lit(stage["ok"][fmt]).alias("validation_ok"),
        )
        out = part if out is None else out.unionByName(part)
    return out


# the position deletes remove every ODD r_regionkey row from B
# (r_regionkey >= 2); A (r_regionkey < 2) is untouched — so the net
# counts are recomputable from the region rows alone
@query(staged=True, oracle="""
        WITH per_file AS (
            SELECT 'A.parquet' AS file_name, CAST(COUNT(*) AS BIGINT) AS record_count
            FROM region WHERE r_regionkey < 2
            UNION ALL
            SELECT 'B.parquet', CAST(COUNT(*) AS BIGINT)
            FROM region WHERE r_regionkey >= 2 AND r_regionkey % 2 = 0
        )
        SELECT fmt, file_name, record_count, TRUE AS validation_ok
        FROM per_file
        CROSS JOIN (VALUES ('ICEBERG'), ('DELTA'), ('HUDI')) f(fmt)
    """)
def q_sync_foreign_iceberg_deletes(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg v2 MERGE-ON-READ conformance (r11): the foreign fixture
    gains a snapshot-3 position-delete file (authored by
    tools/foreign_iceberg.add_position_deletes through pyarrow + the
    reference Avro implementation — zero repo-codec bytes) deleting every
    odd r_regionkey row of B.parquet. The native plane APPLIES the deletes
    — distributed delete-parquet read, sequence-number rule, distinct
    (path, pos) count joined onto the inventory — and syncs NET record
    counts into Delta + Hudi. The reference CANNOT do this: its
    IcebergSourceClient.java:169-194 ignores delete files and would
    resurrect the deleted rows; equality deletes still refuse loudly.
    Emits (fmt, file_name, record_count, validation_ok) for all three
    formats; the oracle recomputes the net counts from the region rows
    themselves (A = r_regionkey < 2 raw; B = even keys >= 2 — exactly the
    rows the position deletes leave alive). Staged once per session."""
    import os

    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.model import TableFormat
    from onetable_spark.sync import SyncClient, source_for, target_for
    from onetable_spark.sync.validation import SnapshotReaderAdapter, SyncValidator

    def build(base: str) -> dict:
        from tools.foreign_iceberg import add_position_deletes, write_foreign_iceberg_table

        tbl_dir = os.path.join(base, "region")
        os.makedirs(tbl_dir)
        truth = write_foreign_iceberg_table(
            spark, tbl_dir, os.path.join(sf, "region.parquet")
        )
        add_position_deletes(spark, tbl_dir, truth)
        client = SyncClient(spark)
        source = source_for(spark, TableFormat.ICEBERG, tbl_dir)
        targets = [
            target_for(spark, TableFormat.DELTA, tbl_dir),
            target_for(spark, TableFormat.HUDI, tbl_dir),
        ]
        results = client.sync(source, targets)
        for r in results.values():
            if r.status.value != "SUCCESS":
                raise RuntimeError(f"foreign-iceberg-deletes sync failed: {r}")
        validator = SyncValidator()
        ok: dict[str, bool] = {"ICEBERG": True}
        for fmt, reader in (
            ("DELTA", DeltaLog(spark, tbl_dir)),
            ("HUDI", HudiTimeline(spark, tbl_dir)),
        ):
            ok[fmt] = all(
                v.success
                for v in validator.validate(SnapshotReaderAdapter(source), reader).values()
            )
        return {"dir": tbl_dir, "ok": ok}

    stage = _staged_once(spark, sf, "otb_ficedel_q", build)
    out = None
    for fmt, reader in (
        ("ICEBERG", IcebergTable(spark, stage["dir"])),
        ("DELTA", DeltaLog(spark, stage["dir"])),
        ("HUDI", HudiTimeline(spark, stage["dir"])),
    ):
        part = reader.snapshot_files().select(
            F.lit(fmt).alias("fmt"),
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("record_count"),
            F.lit(stage["ok"][fmt]).alias("validation_ok"),
        )
        out = part if out is None else out.unionByName(part)
    return out


# the DV deletes every ODD r_regionkey position from f2 (a full
# region copy); f1 stays raw — net counts recompute from region rows
@query(staged=True, oracle="""
        WITH per_file AS (
            SELECT 'f1.parquet' AS file_name, CAST(COUNT(*) AS BIGINT) AS record_count
            FROM region
            UNION ALL
            SELECT 'f2.parquet', CAST(COUNT(*) AS BIGINT)
            FROM region WHERE r_regionkey % 2 = 0
        )
        SELECT fmt, file_name, record_count, TRUE AS dv_ok
        FROM per_file
        CROSS JOIN (VALUES ('DELTA'), ('ICEBERG'), ('HUDI')) f(fmt)
    """)
def q_sync_delta_dv(spark: SparkSession, sf: str) -> DataFrame:
    """Delta DELETION VECTORS end-to-end (r11): a spec-authored DV table —
    f1 + f2 are region copies; version 2 upgrades the protocol
    (minReaderVersion 3, readerFeatures [deletionVectors]) and puts a real
    DV on f2 (z85-encoded uuid payload, portable RoaringBitmapArray bytes
    with CRC, formats/delta_dv.py) deleting every odd-r_regionkey
    position. The log replay nets the descriptor cardinality out of the
    counts (same-version remove+add tiebreak), verify_deletion_vectors
    decodes the BITMAP distributed and cross-checks it against the
    descriptor, and the net counts sync into Iceberg + Hudi. The r10
    engine refused DV tables; the reference predates the feature. Emits
    (fmt, file_name, record_count, dv_ok); the oracle recomputes net
    counts from region rows (f2 keeps exactly the even keys)."""
    import json as _json
    import os
    import shutil

    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.delta_dv import write_dv_file
    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory
    from onetable_spark.sync import SyncClient, source_for, target_for

    def build(base: str) -> dict:
        import pyarrow.parquet as pq

        tbl = os.path.join(base, "dv_table")
        os.makedirs(tbl)
        for name in ("f1.parquet", "f2.parquet"):
            shutil.copy(os.path.join(sf, "region.parquet"), os.path.join(tbl, name))
        schema = spark.read.parquet(tbl).schema
        log = DeltaLog(spark, tbl)
        log.init_table(
            Table(name="dv", base_path=tbl, table_format=TableFormat.DELTA,
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

        client = SyncClient(spark)
        source = source_for(spark, TableFormat.DELTA, tbl)
        results = client.sync(source, [
            target_for(spark, TableFormat.ICEBERG, tbl),
            target_for(spark, TableFormat.HUDI, tbl),
        ])
        for r in results.values():
            if r.status.value != "SUCCESS":
                raise RuntimeError(f"delta-dv sync failed: {r}")
        # bitmap-vs-descriptor cross-check, decoded on executors
        # driver-ok: one row per DV'd live file (exactly 1 in this stage)
        checks = DeltaLog(spark, tbl).verify_deletion_vectors().collect()
        dv_ok = bool(checks) and all(c["dv_ok"] for c in checks)
        return {"dir": tbl, "dv_ok": dv_ok}

    stage = _staged_once(spark, sf, "otb_dv_q", build)
    out = None
    for fmt, reader in (
        ("DELTA", DeltaLog(spark, stage["dir"])),
        ("ICEBERG", IcebergTable(spark, stage["dir"])),
        ("HUDI", HudiTimeline(spark, stage["dir"])),
    ):
        part = reader.snapshot_files().select(
            F.lit(fmt).alias("fmt"),
            F.element_at(F.split("path", "/"), -1).alias("file_name"),
            F.col("record_count"),
            F.lit(stage["dv_ok"]).alias("dv_ok"),
        )
        out = part if out is None else out.unionByName(part)
    return out


# deterministic lifecycle: drain1 FULL-bootstraps after 2 marker files
# (v0 init + v1 add f1 — the trigger watches RAW commit markers so
# metadata-only commits count too), drain2 INCREMENTAL after 1 (v2 add
# f2); final inventory = 2 region copies
@query(staged=True, oracle="""
        SELECT d.drain, f.fmt, 'SUCCESS' AS status, d.sync_mode,
               CAST(d.n_commits AS BIGINT) AS n_commits,
               CAST(2 AS BIGINT) AS n_files,
               CAST(2 * (SELECT COUNT(*) FROM region) AS BIGINT) AS n_records
        FROM (VALUES (1, 'FULL', 2), (2, 'INCREMENTAL', 1)) d(drain, sync_mode, n_commits)
        CROSS JOIN (VALUES ('ICEBERG'), ('HUDI')) f(fmt)
    """)
def q_sync_continuous(spark: SparkSession, sf: str) -> DataFrame:
    """CONTINUOUS sync under the correctness gate (sync/continuous.py):
    the reference runs RunSync from cron; here the CDC stream over the
    source's _delta_log triggers the same idempotent incremental sync the
    moment a commit lands. Staged lifecycle: drain 1 FULL-bootstraps both
    targets from the f1 commit; f2 lands; drain 2 (a NEW service instance
    resuming the SAME checkpoint) must trigger exactly once with exactly
    one action and replay INCREMENTALLY. Output pins each drain's
    (n_commits, per-format status+mode) plus the targets' final inventory
    — a service that re-delivered a commit, missed one, or FULL-resynced
    flips the hash."""
    import os
    import shutil

    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.model import Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory
    from onetable_spark.sync.continuous import ContinuousSync

    def build(base: str) -> dict:
        shutil.copy(os.path.join(sf, "region.parquet"), os.path.join(base, "f1.parquet"))
        schema = spark.read.parquet(base).schema
        log = DeltaLog(spark, base)
        log.init_table(
            Table(
                name="csvc", base_path=base, table_format=TableFormat.DELTA, read_schema=schema
            )
        )
        log.commit(adds=build_inventory(spark, [os.path.join(base, "f1.parquet")], root=base))

        ckpt = os.path.join(base, "_watch_ckpt")
        targets = (TableFormat.ICEBERG, TableFormat.HUDI)
        j1 = ContinuousSync(spark, base, targets, ckpt, validate=True).run_available_now()
        _require(len(j1) == 1, j1)

        f2 = os.path.join(base, "f2.parquet")
        shutil.copy(os.path.join(sf, "region.parquet"), f2)
        log.commit(adds=build_inventory(spark, [f2], root=base))
        j2 = ContinuousSync(spark, base, targets, ckpt, validate=True).run_available_now()
        _require(len(j2) == 1, j2)
        return {"base": base, "drains": [j1[0], j2[0]]}

    stage = _staged_once(spark, sf, "otb_csvc_q", build)
    readers = {
        "ICEBERG": lambda p: IcebergTable(spark, p),
        "HUDI": lambda p: HudiTimeline(spark, p),
    }
    out = None
    for fmt, mk in readers.items():
        files = mk(stage["base"]).snapshot_files()
        inv = files.agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("record_count").cast("long").alias("n_records"),
        )
        for phase, drain in enumerate(stage["drains"], start=1):
            status, mode = drain["results"][fmt]
            part = inv.select(
                F.lit(phase).alias("drain"),
                F.lit(fmt).alias("fmt"),
                F.lit(status).alias("status"),
                F.lit(mode).alias("sync_mode"),
                F.lit(drain["n_commits"]).cast("long").alias("n_commits"),
                "n_files",
                "n_records",
            )
            out = part if out is None else out.unionByName(part)
    return out
