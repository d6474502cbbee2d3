"""Staged row-level change-feed lifecycles: Iceberg changelog, Hudi
changelog and CDC feed, Delta change data feed."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from onetable_spark.queries import query
from onetable_spark.queries.common import _staged_once
from onetable_spark.session import local_rows_df


def _ice_chlog_stage(spark: SparkSession, sf: str) -> dict:
    """ONE staged Iceberg v2 changelog lifecycle shared by
    ``iceberg_changelog`` (bare delete+insert parity) and
    ``iceberg_changelog_updates`` (identifier-paired, r14): seed region,
    keyed upsert on keys 0-1 plus new key 91, then a changelog-invisible
    REPLACE compaction."""
    import os
    import shutil

    from onetable_spark.formats.iceberg import IcebergTable
    from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory

    def build(base: str) -> dict:
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        tbl = os.path.join(base, "chlog_table")
        os.makedirs(tbl)
        src = os.path.join(sf, "region.parquet")
        shutil.copy(src, os.path.join(tbl, "f1.parquet"))
        schema = spark.read.parquet(src).schema
        ice = IcebergTable(spark, tbl)
        ice.init_table(
            Table(name="chlog", base_path=tbl, table_format=TableFormat.ICEBERG,
                  read_schema=schema, layout=DataLayoutStrategy.FLAT),
            format_version=2,
        )
        ice.commit_overwrite(
            adds=build_inventory(spark, [os.path.join(tbl, "f1.parquet")], root=tbl)
        )
        # upsert batch: keys 0,1 renamed 'X_' || r_name, plus new key 91
        t = pq.read_table(src)
        upd = t.filter(pc.is_in(t["r_regionkey"], value_set=pa.array([0, 1])))
        upd = upd.set_column(
            upd.schema.get_field_index("r_name"),
            "r_name",
            pc.binary_join_element_wise(
                pa.array(["X_"] * len(upd)), upd["r_name"].combine_chunks(), ""
            ),
        )
        newrow = pa.table(
            {"r_regionkey": pa.array([91], type=t["r_regionkey"].type),
             "r_name": pa.array(["NEWLAND"])}
        ).select([f.name for f in t.schema])
        batch = pa.concat_tables([upd, newrow])
        out = os.path.join(tbl, "u1.parquet")
        pq.write_table(batch, out)
        ice.commit_upsert(build_inventory(spark, [out], root=tbl), ["r_regionkey"])
        # compaction publishes a REPLACE snapshot — changelog-invisible
        ice.rewrite_data_files(apply_equality_deletes=True)
        return {"dir": tbl}

    return _staged_once(spark, sf, "otb_chlog_q", build)


# r13: the changelog is a pure function of region — ordinal 0 replays
# it verbatim as inserts; ordinal 1 is the upsert's delete+insert
# pairs; the REPLACE compaction snapshot contributes nothing
@query(staged=True, oracle="""
        SELECT * FROM (
            SELECT 'insert' AS change_type, CAST(0 AS INTEGER) AS ordinal,
                   CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
            FROM region
            UNION ALL
            SELECT 'delete', 1, CAST(r_regionkey AS BIGINT), r_name
            FROM region WHERE r_regionkey <= 1
            UNION ALL
            SELECT 'insert', 1, CAST(r_regionkey AS BIGINT), 'X_' || r_name
            FROM region WHERE r_regionkey <= 1
            UNION ALL
            SELECT 'insert', 1, 91, 'NEWLAND'
        ) ORDER BY ordinal, change_type, r_regionkey
    """)
def q_iceberg_changelog(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg ROW-LEVEL CHANGELOG scan (r13 — the ``create_changelog_
    view`` procedure; the Delta sibling is ``delta_cdf``): the staged v2
    lifecycle seeds region (snapshot 1 — 5 inserts), runs a Flink-style
    keyed upsert on keys 0 and 1 with derivably-renamed rows plus a new
    key 91 (snapshot 2 — the equality delete kills the two OLD rows,
    the data file adds three new ones; Iceberg emits them as delete +
    insert, update pairing needs identifier fields its own procedure
    also leaves off by default — see ``iceberg_changelog_updates`` for
    the paired mode), then compacts with ``rewrite_data_files(apply_
    equality_deletes=True)`` — a REPLACE snapshot the changelog must
    emit NOTHING for (compaction is not a logical change). The full
    ``changelog()`` therefore replays exactly: ordinal 0 = region
    verbatim as inserts; ordinal 1 = the two old rows as deletes (read
    AT their killed positions through the data-assisted equality scan)
    + three inserts. Every output row is a pure function of the region
    table. The reference has only a FILE-level change scan
    (IcebergSourceClient.java:169-194). Staged once per (session, sf)."""
    from onetable_spark.formats.iceberg import IcebergTable as _IT

    stage = _ice_chlog_stage(spark, sf)
    return (
        _IT(spark, stage["dir"])
        .changelog()
        .select(
            F.col("_change_type").alias("change_type"),
            F.col("_change_ordinal").cast("int").alias("ordinal"),
            F.col("r_regionkey").cast("long").alias("r_regionkey"),
            "r_name",
        )
        .orderBy("ordinal", "change_type", "r_regionkey")
    )


# r14: identifier-paired mode — the upsert's same-key delete+insert
# pairs become update_preimage/update_postimage; key 91 stays insert
@query(staged=True, oracle="""
        SELECT * FROM (
            SELECT 'insert' AS change_type, CAST(0 AS INTEGER) AS ordinal,
                   CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
            FROM region
            UNION ALL
            SELECT 'update_preimage', 1, CAST(r_regionkey AS BIGINT), r_name
            FROM region WHERE r_regionkey <= 1
            UNION ALL
            SELECT 'update_postimage', 1, CAST(r_regionkey AS BIGINT),
                   'X_' || r_name
            FROM region WHERE r_regionkey <= 1
            UNION ALL
            SELECT 'insert', 1, 91, 'NEWLAND'
        ) ORDER BY ordinal, change_type, r_regionkey
    """)
def q_iceberg_changelog_updates(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg changelog with IDENTIFIER-PAIRED updates (r14 —
    create_changelog_view's identifier-columns mode /
    ChangelogIterator.computeUpdates): same staged lifecycle as
    ``iceberg_changelog``, read with ``identifier_fields=['r_regionkey']``
    (the record key the upsert was keyed on — the repo round-trips record
    keys as Iceberg identifier-field-ids, C3). The upsert's same-key
    delete+insert pairs become ``update_preimage``/``update_postimage``;
    the genuinely-new key 91 stays a bare insert. One extra shuffle on
    (ordinal, key) over the bare scan. Every row is region-derived."""
    from onetable_spark.formats.iceberg import IcebergTable as _IT

    stage = _ice_chlog_stage(spark, sf)
    return (
        _IT(spark, stage["dir"])
        .changelog(identifier_fields=["r_regionkey"])
        .select(
            F.col("_change_type").alias("change_type"),
            F.col("_change_ordinal").cast("int").alias("ordinal"),
            F.col("r_regionkey").cast("long").alias("r_regionkey"),
            "r_name",
        )
        .orderBy("ordinal", "change_type", "r_regionkey")
    )


# r14: net mode — the upsert-killed seed rows cancel against their
# ordinal-0 inserts; what survives is exactly the final state
@query(staged=True, oracle="""
        SELECT * FROM (
            SELECT 'insert' AS change_type, CAST(0 AS INTEGER) AS ordinal,
                   CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
            FROM region WHERE r_regionkey >= 2
            UNION ALL
            SELECT 'insert', 1, CAST(r_regionkey AS BIGINT), 'X_' || r_name
            FROM region WHERE r_regionkey <= 1
            UNION ALL
            SELECT 'insert', 1, 91, 'NEWLAND'
        ) ORDER BY ordinal, change_type, r_regionkey
    """)
def q_iceberg_changelog_net(spark: SparkSession, sf: str) -> DataFrame:
    """Iceberg changelog in NET-CHANGES mode (r14 —
    create_changelog_view's net_changes /
    ChangelogIterator.removeNetCarryovers): same staged lifecycle as
    ``iceberg_changelog``, read with ``net_changes=True``. The seed rows
    the upsert killed (keys 0-1, original names) cancel against their
    own ordinal-0 inserts — only the NET change per row content
    survives, which here is exactly the final table state, each row at
    the ordinal that produced it. One shuffle on the full row content.
    Every row is region-derived."""
    from onetable_spark.formats.iceberg import IcebergTable as _IT

    stage = _ice_chlog_stage(spark, sf)
    return (
        _IT(spark, stage["dir"])
        .changelog(net_changes=True)
        .select(
            F.col("_change_type").alias("change_type"),
            F.col("_change_ordinal").cast("int").alias("ordinal"),
            F.col("r_regionkey").cast("long").alias("r_regionkey"),
            "r_name",
        )
        .orderBy("ordinal", "change_type", "r_regionkey")
    )


def _hudi_chlog_stage(spark: SparkSession, sf: str) -> dict:
    """ONE staged MOR changelog lifecycle shared by ``hudi_changelog``
    (batch) and ``streaming_hudi_rows`` (r14 row stream): seed region as
    a deltacommit, keyed upsert (X_ renames on keys 0-1 + new key 92),
    then compaction (changelog/stream-invisible)."""
    import os
    import shutil

    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory

    def build(base: str) -> dict:
        tbl = os.path.join(base, "hchlog")
        os.makedirs(tbl)
        src = os.path.join(sf, "region.parquet")
        f1 = os.path.join(tbl, "f1.parquet")
        shutil.copy(src, f1)
        schema = spark.read.parquet(src).schema
        tl = HudiTimeline(spark, tbl)
        tl.init_table(
            Table(name="hcl", base_path=tbl, table_format=TableFormat.HUDI,
                  read_schema=schema, layout=DataLayoutStrategy.FLAT,
                  record_key_fields=("r_regionkey",))
        )
        tl.commit(adds=build_inventory(spark, [f1], root=tbl), action="deltacommit")
        region = spark.read.parquet(src)
        batch = (
            region.filter(F.col("r_regionkey") <= 1)
            .withColumn("r_name", F.concat(F.lit("X_"), F.col("r_name")))
            .unionByName(
                local_rows_df(spark, [(92, "NEWLAND")], region.schema)
            )
        )
        tl.upsert_records(batch)
        tl.compact_file_groups()
        return {"dir": tbl}

    return _staged_once(spark, sf, "otb_hchlog_q", build)


# r13: ops are a pure function of region — 'i' x5 seed + the upsert's
# 'u' after-images ('X_' || r_name on keys 0-1) + one new-key 'i';
# the COMPACT instant contributes nothing
@query(staged=True, oracle="""
        SELECT * FROM (
            SELECT 'i' AS op, CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
            FROM region
            UNION ALL
            SELECT 'u', CAST(r_regionkey AS BIGINT), 'X_' || r_name
            FROM region WHERE r_regionkey <= 1
            UNION ALL
            SELECT 'i', 92, 'NEWLAND'
        ) ORDER BY op, r_regionkey, r_name
    """)
def q_hudi_changelog(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi ROW-LEVEL CHANGELOG (r13 — the third edge of the CDC
    triangle; siblings ``delta_cdf`` and ``iceberg_changelog``): the
    staged MOR lifecycle seeds region as an external-registration
    deltacommit (5 'i' rows), upserts keys 0 and 1 with derivably-renamed
    rows plus a new key 92 via ``upsert_records`` (the updates land as an
    AVRO_DATA log block decoded through the byte-certified codec → 'u'
    after-images; the new key lands in a fresh file group → 'i'), then
    compacts — the COMPACT instant must emit NOTHING. Ops use Hudi's own
    CDC vocabulary ('i'/'u'/'d'); every output row is a pure function of
    the region table. The reference reads only file-level commit
    metadata. Staged once per (session, sf)."""
    from onetable_spark.formats.hudi import HudiTimeline

    stage = _hudi_chlog_stage(spark, sf)
    return (
        HudiTimeline(spark, stage["dir"])
        .changelog()
        .select(
            F.col("_change_operation").alias("op"),
            F.col("r_regionkey").cast("long").alias("r_regionkey"),
            "r_name",
        )
        .orderBy("op", "r_regionkey", "r_name")
    )


def _hudi_chupd_stage(spark: SparkSession, sf: str) -> dict:
    """ONE staged replacecommit lifecycle shared by
    ``hudi_changelog_updates`` (batch, identifier-paired) and
    ``streaming_hudi_replace`` (r15 row stream): seed region as a
    deltacommit, then a REPLACECOMMIT keyed rewrite (full region with
    keys 0-1 derivably renamed plus new key 93) replacing the seed
    file group."""
    import os
    import shutil

    from onetable_spark.formats.hudi import HudiTimeline, _file_id_for
    from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory

    def build(base: str) -> dict:
        tbl = os.path.join(base, "hchupd")
        os.makedirs(tbl)
        src = os.path.join(sf, "region.parquet")
        f1 = os.path.join(tbl, "f1.parquet")
        shutil.copy(src, f1)
        schema = spark.read.parquet(src).schema
        tl = HudiTimeline(spark, tbl)
        tl.init_table(
            Table(name="hcu", base_path=tbl, table_format=TableFormat.HUDI,
                  read_schema=schema, layout=DataLayoutStrategy.FLAT,
                  record_key_fields=("r_regionkey",))
        )
        tl.commit(adds=build_inventory(spark, [f1], root=tbl), action="deltacommit")
        region = spark.read.parquet(src)
        rewrite = (
            region.withColumn(
                "r_name",
                F.when(
                    F.col("r_regionkey") <= 1,
                    F.concat(F.lit("X_"), F.col("r_name")),
                ).otherwise(F.col("r_name")),
            )
            .unionByName(local_rows_df(spark, [(93, "NEWLAND")], region.schema))
        )
        stage_dir = os.path.join(base, "_rw_stage")
        rewrite.coalesce(1).write.parquet(stage_dir)
        part = next(
            f for f in os.listdir(stage_dir)
            if f.endswith(".parquet") and not f.startswith(".")
        )
        f2 = os.path.join(tbl, "f2.parquet")
        shutil.move(os.path.join(stage_dir, part), f2)
        # operationType=UPSERT (the default): a KEYED rewrite is a logical
        # change — CLUSTER would make the changelog skip it by contract
        tl.commit(
            adds=build_inventory(spark, [f2], root=tbl),
            replace_file_ids={"": [_file_id_for("f1.parquet")]},
        )
        return {"dir": tbl}

    return _staged_once(spark, sf, "otb_hchupd_q", build)


# r14: identifier-paired Hudi changelog over a replacecommit keyed
# rewrite — every replaced-group key pairs (carried-over keys 2-4 with
# identical values, computeUpdates parity); new key 93 stays 'i'
@query(staged=True, oracle="""
        SELECT * FROM (
            SELECT 'i' AS op, 0 AS ordinal,
                   CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
            FROM region
            UNION ALL
            SELECT 'update_preimage', 1, CAST(r_regionkey AS BIGINT), r_name
            FROM region
            UNION ALL
            SELECT 'update_postimage', 1, CAST(r_regionkey AS BIGINT),
                   CASE WHEN r_regionkey <= 1 THEN 'X_' || r_name
                        ELSE r_name END
            FROM region
            UNION ALL
            SELECT 'i', 1, 93, 'NEWLAND'
        ) ORDER BY ordinal, op, r_regionkey, r_name
    """)
def q_hudi_changelog_updates(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi changelog with IDENTIFIER-PAIRED updates (r14 — the
    cross-format twin of ``iceberg_changelog_updates``): the shared
    ``_hudi_chupd_stage`` seeds region as a deltacommit, then a
    REPLACECOMMIT keyed rewrite (full region with keys 0-1 derivably
    renamed plus new key 93) replaces the seed file group — the shape
    clustering-style keyed rewrites produce. The bare changelog derives
    the replaced group's prior rows as 'd' and the new file's rows as
    'i'; with ``identifier_fields=['r_regionkey']`` every same-key
    'd'+'i' within the instant pairs into
    ``update_preimage``/``update_postimage`` (carried-over keys 2-4 pair
    with identical values — create_changelog_view's computeUpdates does
    the same), and the genuinely-new key stays a bare 'i'. Instants map
    to dense ordinals driver-side (two timeline strings). Every value is
    region-derived."""
    from onetable_spark.formats.hudi import HudiTimeline

    stage = _hudi_chupd_stage(spark, sf)
    tl = HudiTimeline(spark, stage["dir"])
    instants = [i for i, _ in tl.completed_instants()]
    ord_col = F.lit(None).cast("int")
    for n, inst in enumerate(sorted(instants)):
        ord_col = F.when(F.col("_commit_instant") == inst, n).otherwise(ord_col)
    return (
        tl.changelog(identifier_fields=["r_regionkey"])
        .select(
            F.col("_change_operation").alias("op"),
            ord_col.alias("ordinal"),
            F.col("r_regionkey").cast("long").alias("r_regionkey"),
            "r_name",
        )
        .orderBy("ordinal", "op", "r_regionkey", "r_name")
    )


# r14: the supplemental cdc log's exact before-images — 'u' rows carry
# both images; 'i' rows (BASE_FILE_INSERT inference) after-only
@query(staged=True, oracle="""
        SELECT * FROM (
            SELECT 'i' AS op, CAST(r_regionkey AS BIGINT) AS r_regionkey,
                   CAST(NULL AS VARCHAR) AS before_name,
                   r_name AS after_name, TRUE AS ts_ok
            FROM region
            UNION ALL
            SELECT 'u', CAST(r_regionkey AS BIGINT), r_name,
                   'X_' || r_name, TRUE
            FROM region WHERE r_regionkey <= 1
            UNION ALL
            SELECT 'i', 91, NULL, 'NEWLAND', TRUE
        ) ORDER BY op, r_regionkey
    """)
def q_hudi_cdc_feed(spark: SparkSession, sf: str) -> DataFrame:
    """Hudi SUPPLEMENTAL CDC LOG end-to-end (r14 — RFC-51 /
    ``hoodie.table.cdc.enabled``; VERDICT r13 #8): the staged lifecycle
    seeds region as a deltacommit, flips the cdc table property on, then
    runs a keyed ``upsert_records`` — which now AUTHORS a real ``-cdc``
    log file (CDC_DATA block, op='u' records with BEFORE and after
    images as JSON strings per HoodieCDCUtils' data_before_after schema,
    advertised via the write stat's ``cdcStats``) — and compacts (the
    COMPACT instant must emit nothing). ``cdc_feed()`` then serves
    Hudi's CDC-query shape (CDCRelation.FULL_CDC_SPARK_SCHEMA): the
    upsert's 'u' rows come off the cdc block VERBATIM with exact
    before-images; the seed rows and the upsert's new key derive as 'i'
    via RFC-51's BASE_FILE_INSERT inference (after image only). Every
    value is region-derived; ts_ms (the commit instant's epoch millis)
    is asserted present as a boolean. The reference has no CDC surface;
    prior rounds' Hudi changelog emitted after-images only. Staged once
    per (session, sf)."""
    import os
    import shutil

    from onetable_spark.formats.hudi import HudiTimeline
    from onetable_spark.model import DataLayoutStrategy, Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory

    def build(base: str) -> dict:
        tbl = os.path.join(base, "hcdc")
        os.makedirs(tbl)
        src = os.path.join(sf, "region.parquet")
        f1 = os.path.join(tbl, "f1.parquet")
        shutil.copy(src, f1)
        schema = spark.read.parquet(src).schema
        tl = HudiTimeline(spark, tbl)
        tl.init_table(
            Table(name="hcdc", base_path=tbl, table_format=TableFormat.HUDI,
                  read_schema=schema, layout=DataLayoutStrategy.FLAT,
                  record_key_fields=("r_regionkey",))
        )
        tl.commit(adds=build_inventory(spark, [f1], root=tbl), action="deltacommit")
        tl.set_table_properties({"hoodie.table.cdc.enabled": "true"})
        region = spark.read.parquet(src)
        batch = (
            region.filter(F.col("r_regionkey") <= 1)
            .withColumn("r_name", F.concat(F.lit("X_"), F.col("r_name")))
            .unionByName(
                local_rows_df(spark, [(91, "NEWLAND")], region.schema)
            )
        )
        tl.upsert_records(batch)
        tl.compact_file_groups()
        return {"dir": tbl}

    stage = _staged_once(spark, sf, "otb_hcdcfeed_q", build)
    feed = HudiTimeline(spark, stage["dir"]).cdc_feed()
    return feed.select(
        "op",
        F.coalesce(
            F.get_json_object("after", "$.r_regionkey"),
            F.get_json_object("before", "$.r_regionkey"),
        ).cast("long").alias("r_regionkey"),
        F.get_json_object("before", "$.r_name").alias("before_name"),
        F.get_json_object("after", "$.r_name").alias("after_name"),
        F.col("ts_ms").isNotNull().alias("ts_ok"),
    ).orderBy("op", "r_regionkey")


def _cdf_stage(spark: SparkSession, sf: str) -> dict:
    """ONE staged CDF lifecycle shared by ``delta_cdf`` (batch reader)
    and ``streaming_cdf`` (file stream over _change_data/): seed a
    CDF-enabled Delta table from region, then one MERGE-shaped keyed
    upsert that writes the row-level cdc files."""
    import os
    import shutil

    from onetable_spark.formats.delta import DeltaLog
    from onetable_spark.model import Table, TableFormat
    from onetable_spark.sources.parquet_inventory import build_inventory

    def build(base: str) -> dict:
        tbl = os.path.join(base, "cdf_table")
        os.makedirs(tbl)
        shutil.copy(os.path.join(sf, "region.parquet"), os.path.join(tbl, "f1.parquet"))
        src = spark.read.parquet(os.path.join(tbl, "f1.parquet"))
        log = DeltaLog(spark, tbl)
        log.init_table(
            Table(name="cdf", base_path=tbl, table_format=TableFormat.DELTA,
                  read_schema=src.schema),
            configuration={"delta.enableChangeDataFeed": "true"},
        )
        log.commit(
            adds=build_inventory(spark, [os.path.join(tbl, "f1.parquet")], root=tbl)
        )
        # the upsert batch: keys 0 and 1 renamed (derivably: 'X_' prefix),
        # plus one brand-new key 90
        batch = (
            src.where("r_regionkey <= 1")
            .withColumn("r_name", F.concat(F.lit("X_"), F.col("r_name")))
            .unionByName(
                local_rows_df(spark, [(90, "NEWLAND")], src.schema)
            )
        )
        stage_dir = os.path.join(base, "_batch_stage")
        batch.coalesce(1).write.parquet(stage_dir)
        part = next(
            f for f in os.listdir(stage_dir)
            if f.endswith(".parquet") and not f.startswith(".")
        )
        f2 = os.path.join(tbl, "f2.parquet")
        shutil.move(os.path.join(stage_dir, part), f2)
        v = log.upsert_by_key(
            build_inventory(spark, [f2], root=tbl), key_fields=["r_regionkey"]
        )
        # r14: a post-enable PLAIN APPEND (v3) — authors NO cdc files, so
        # both the batch reader and the streaming feed must DERIVE its
        # rows as inserts (delta-spark readChangeFeed's behavior; before
        # r14 the stream tailed only _change_data/ and lost these rows)
        app = (
            src.where("r_regionkey >= 3")
            .withColumn(
                "r_regionkey",
                (F.col("r_regionkey") + 200).cast(src.schema["r_regionkey"].dataType),
            )
            .withColumn("r_name", F.concat(F.lit("APP_"), F.col("r_name")))
        )
        app_stage = os.path.join(base, "_app_stage")
        app.coalesce(1).write.parquet(app_stage)
        part3 = next(
            f for f in os.listdir(app_stage)
            if f.endswith(".parquet") and not f.startswith(".")
        )
        f3 = os.path.join(tbl, "f3.parquet")
        shutil.move(os.path.join(app_stage, part3), f3)
        v3 = log.commit(adds=build_inventory(spark, [f3], root=tbl))
        # r14: a MIXED overwrite commit (v4) — remove f3 and add f4 in
        # ONE commit with no cdc files (the INSERT OVERWRITE shape;
        # delta-spark's CDCReader derives removes as 'delete' + adds as
        # 'insert' for such commits, and r13's refusal was stricter than
        # delta-spark). f3's bytes stay on disk (no vacuum), so the
        # delete preimages read back exactly.
        ovr = (
            src.where("r_regionkey >= 3")
            .withColumn(
                "r_regionkey",
                (F.col("r_regionkey") + 300).cast(src.schema["r_regionkey"].dataType),
            )
            .withColumn("r_name", F.concat(F.lit("OVR_"), F.col("r_name")))
        )
        ovr_stage = os.path.join(base, "_ovr_stage")
        ovr.coalesce(1).write.parquet(ovr_stage)
        part4 = next(
            f for f in os.listdir(ovr_stage)
            if f.endswith(".parquet") and not f.startswith(".")
        )
        f4 = os.path.join(tbl, "f4.parquet")
        shutil.move(os.path.join(ovr_stage, part4), f4)
        v4 = log.commit(
            adds=build_inventory(spark, [f4], root=tbl),
            removes=build_inventory(spark, [f3], root=tbl),
        )
        # the cdc files are authoritative for v2: exactly 2 preimages +
        # 2 postimages + 1 insert must come off _change_data, and the
        # protocol must now advertise the writer feature
        feats = set(log.snapshot_info().protocol.get("writerFeatures") or [])
        return {"dir": tbl, "upsert_version": v, "append_version": v3,
                "overwrite_version": v4,
                "feature_ok": "changeDataFeed" in feats}

    return _staged_once(spark, sf, "otb_cdf_q", build)


# r13: every CDF row is a pure function of the region table — the v1
# insert fallback replays region verbatim; the v2 upsert's postimages
# are 'X_' || r_name on keys 0-1 and one literal new key
@query(staged=True, oracle="""
        SELECT * FROM (
            SELECT 'insert' AS change_type, CAST(1 AS BIGINT) AS commit_version,
                   CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name,
                   TRUE AS feature_ok
            FROM region
            UNION ALL
            SELECT 'update_preimage', 2, CAST(r_regionkey AS BIGINT), r_name, TRUE
            FROM region WHERE r_regionkey <= 1
            UNION ALL
            SELECT 'update_postimage', 2, CAST(r_regionkey AS BIGINT),
                   'X_' || r_name, TRUE
            FROM region WHERE r_regionkey <= 1
            UNION ALL
            SELECT 'insert', 2, 90, 'NEWLAND', TRUE
            UNION ALL
            -- r14: the v3 plain append derives as inserts
            SELECT 'insert', 3, CAST(r_regionkey AS BIGINT) + 200,
                   'APP_' || r_name, TRUE
            FROM region WHERE r_regionkey >= 3
            UNION ALL
            -- r14: the v4 MIXED overwrite (remove f3 + add f4, no cdc)
            -- derives removes as deletes and adds as inserts
            SELECT 'delete', 4, CAST(r_regionkey AS BIGINT) + 200,
                   'APP_' || r_name, TRUE
            FROM region WHERE r_regionkey >= 3
            UNION ALL
            SELECT 'insert', 4, CAST(r_regionkey AS BIGINT) + 300,
                   'OVR_' || r_name, TRUE
            FROM region WHERE r_regionkey >= 3
        ) ORDER BY commit_version, change_type, r_regionkey
    """)
def q_delta_cdf(spark: SparkSession, sf: str) -> DataFrame:
    """Delta CHANGE DATA FEED authored and read back (r13, PROTOCOL.md
    "Add CDC File" / delta-spark's ``delta.enableChangeDataFeed``): the
    staged lifecycle seeds a CDF-enabled table from region (v1 — an
    add-only commit the reader derives as file-level ``insert`` rows,
    delta-spark's same fallback), then runs a MERGE-shaped keyed upsert
    (v2) that writes REAL row-level cdc files under ``_change_data/``:
    ``update_preimage`` rows read at the matched positions on executors,
    ``update_postimage`` for the new versions of matched keys, and
    ``insert`` for the unmatched new key. A v3 PLAIN APPEND (r14) writes
    no cdc files and derives as inserts; a v4 MIXED overwrite (r14,
    remove f3 + add f4 in one non-cdc commit — the INSERT OVERWRITE
    shape) derives BOTH legs, removes as ``delete`` preimages and adds
    as ``insert`` rows, delta-spark CDCReader parity where the r13
    reader refused. ``change_feed(1)`` then serves the exact row
    history — the oracle reconstructs every row from the region table
    (the upsert's new names are a pure function of the old:
    ``'X_' || r_name``; the append's are ``'APP_' || r_name`` on keys
    shifted +200; the overwrite's ``'OVR_' || r_name`` on keys shifted
    +300). The protocol upgrades to writerFeatures
    changeDataFeed the first time a cdc file lands. The reference has no
    CDC surface at all; our prior streaming CDC was file-granularity.
    Staged once per (session, sf)."""
    from onetable_spark.formats.delta import DeltaLog

    stage = _cdf_stage(spark, sf)
    feed = DeltaLog(spark, stage["dir"]).change_feed(1)
    return feed.select(
        F.col("_change_type").alias("change_type"),
        F.col("_commit_version").cast("long").alias("commit_version"),
        F.col("r_regionkey").cast("long").alias("r_regionkey"),
        "r_name",
        F.lit(stage["feature_ok"]).alias("feature_ok"),
    ).orderBy("commit_version", "change_type", "r_regionkey")
