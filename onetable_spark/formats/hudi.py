"""Native Hudi copy-on-write timeline implementation (no Hudi runtime).

Implements the public Hudi table layout (hudi.apache.org/docs — 0.x
timeline-layout v1): ``.hoodie/hoodie.properties`` table config,
``<instant>.commit[.requested|.inflight]`` JSON timeline files with
``HoodieCommitMetadata``-shaped payloads, ``<instant>.replacecommit`` for
file-group replacement, and archived timeline under ``.hoodie/archived``.

Reference parity: the reference writes these through HoodieJavaWriteClient
(core/.../hudi/HudiTargetClient.java:190-400) and reads through the Hudi
timeline API (core/.../hudi/HudiClient.java:86-225). Its external-file
registration trick — each pre-existing parquet becomes its own file group,
with the commit time appended to the file name marker
(core/.../hudi/BaseFileUpdatesExtractor.java:77-232, ExternalFilePathUtil)
— maps here to one fileId per registered path.

Instant format: ``yyyyMMddHHmmssSSS`` UTC (HudiInstantUtils.java:57-76).
Snapshot semantics: a file is live at instant t iff it was added by a
completed commit ≤ t and its fileId is not replaced by a completed
replacecommit ≤ t, nor its commit rolled back.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from datetime import datetime, timezone
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from onetable_spark.session import local_rows_df

from onetable_spark.formats.avro_schema import (
    add_id_tracking,
    avro_to_structtype,
    id_tracking_to_field_ids,
    inject_field_ids,
    structtype_to_avro,
)
from onetable_spark.model import (
    FILES_SCHEMA,
    DataLayoutStrategy,
    FilesDiff,
    PartitionField,
    PartitionTransform,
    Snapshot,
    Table,
    TableChange,
    TableFormat,
    TableMetadata,
)

HOODIE_DIR = ".hoodie"
# deltacommit = MOR ingest (HudiDataFileExtractor.java:157 treats
# DELTA_COMMIT exactly like COMMIT at the base-file level)
COMMIT_ACTIONS = ("commit", "deltacommit", "replacecommit")

# adds above this row count build their write-stat JSON strings on the
# EXECUTORS (mapInArrow) instead of the driver loop — r13 mega-commit
# profile: the per-row uuid5/dict/json work was ~60% of a 1M-entry
# commit's wall. Module-level so tests can drop it to force the path.
_STATS_DISTRIBUTE_THRESHOLD = 100_000
UNDO_ACTIONS = ("rollback", "restore")

WRITE_STAT_SCHEMA = T.StructType(
    [
        T.StructField("fileId", T.StringType()),
        T.StructField("path", T.StringType()),
        T.StructField("prevCommit", T.StringType()),
        T.StructField("numWrites", T.LongType()),
        T.StructField("numInserts", T.LongType()),
        T.StructField("numDeletes", T.LongType()),
        T.StructField("numUpdateWrites", T.LongType()),
        T.StructField("totalWriteBytes", T.LongType()),
        T.StructField("fileSizeInBytes", T.LongType()),
        T.StructField("partitionPath", T.StringType()),
        T.StructField("minEventTime", T.StringType()),
        T.StructField("maxEventTime", T.StringType()),
        T.StructField("columnStats", T.StringType()),  # our extension: stats JSON
        # real HoodieWriteStat field (RFC-51): supplemental cdc log files
        # this stat's write produced — relative path → size
        T.StructField("cdcStats", T.MapType(T.StringType(), T.LongType())),
    ]
)
COMMIT_META_SCHEMA = T.StructType(
    [
        T.StructField(
            "partitionToWriteStats", T.MapType(T.StringType(), T.ArrayType(WRITE_STAT_SCHEMA))
        ),
        T.StructField(
            "partitionToReplaceFileIds", T.MapType(T.StringType(), T.ArrayType(T.StringType()))
        ),
        T.StructField("extraMetadata", T.MapType(T.StringType(), T.StringType())),
        T.StructField("operationType", T.StringType()),
        T.StructField("schemaString", T.StringType()),
    ]
)


_TRANSFORM_FMT = {
    PartitionTransform.YEAR: "yyyy",
    PartitionTransform.MONTH: "yyyy-MM",
    PartitionTransform.DAY: "yyyy-MM-dd",
    PartitionTransform.HOUR: "yyyy-MM-dd-HH",
}


def _partition_spec_entry(p: PartitionField) -> str:
    """IR → Hudi partition-config entry ``path:type[:format]`` (the C4
    inverse, ConfigurationBasedPartitionSpecExtractor.java:42-74).
    BUCKET/TRUNCATE (r13) downgrade to identity (VALUE) on the
    MATERIALIZED partition column — Hudi's config grammar has no hash
    transform; the partition VALUES flow verbatim from the source."""
    if p.transform is PartitionTransform.VALUE:
        return f"{p.source_field}:VALUE"
    if p.transform in (PartitionTransform.BUCKET, PartitionTransform.TRUNCATE):
        return f"{p.name}:VALUE"
    return f"{p.source_field}:TIMESTAMP:{_TRANSFORM_FMT[p.transform]}"


def millis_to_instant(millis: int) -> str:
    """Epoch millis → Hudi commit timestamp (HudiInstantUtils.java:57-76)."""
    dt = datetime.fromtimestamp(millis / 1000, tz=timezone.utc)
    return dt.strftime("%Y%m%d%H%M%S") + f"{millis % 1000:03d}"


def instant_to_millis(instant: str) -> int:
    base = datetime.strptime(instant[:14], "%Y%m%d%H%M%S").replace(tzinfo=timezone.utc)
    millis = int(base.timestamp() * 1000)
    if len(instant) > 14:
        millis += int(instant[14:17])
    return millis


class HudiTimeline:
    """Reader/writer for one table's ``.hoodie`` timeline."""

    def __init__(self, spark: SparkSession, table_path: str):
        self.spark = spark
        self.table_path = table_path
        self.hoodie_path = os.path.join(table_path, HOODIE_DIR)

    # ------------------------------------------------------------------ init

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.hoodie_path, "hoodie.properties"))

    def init_table(self, table: Table) -> None:
        """Create ``.hoodie`` with table config (HudiTableManager.java:85-152)."""
        os.makedirs(self.hoodie_path, exist_ok=True)
        props_file = os.path.join(self.hoodie_path, "hoodie.properties")
        if os.path.exists(props_file):
            return
        props = {
            "hoodie.table.name": table.name,
            "hoodie.table.type": "COPY_ON_WRITE",
            "hoodie.table.version": "6",
            "hoodie.timeline.layout.version": "1",
            "hoodie.table.base.file.format": "PARQUET",
            "hoodie.datasource.write.hive_style_partitioning": str(
                table.layout == DataLayoutStrategy.HIVE_STYLE_PARTITION
            ).lower(),
            "hoodie.table.recordkey.fields": ",".join(table.record_key_fields),
            "hoodie.table.partition.fields": ",".join(
                # bucket/truncate (r13): the PHYSICAL partition path key is
                # the materialized column (identity downgrade), not the
                # hash's source column
                p.name
                if p.transform
                in (PartitionTransform.BUCKET, PartitionTransform.TRUNCATE)
                else p.source_field
                for p in table.partition_fields
            ),
            # full spec with transforms, Hudi partition-config grammar
            # path:type[:format] (ConfigurationBasedPartitionSpecExtractor.
            # java:42-74) — so time transforms survive the round-trip
            "onetable.partition.spec": ",".join(
                _partition_spec_entry(p) for p in table.partition_fields
            ),
            "hoodie.table.schema": json.dumps(table.read_schema.jsonValue()),
            # real-Hudi parity: the Avro record schema (C1 logical types)
            # with IdTracker field ids (hudi-support IdTracker.java:104-118)
            # — what an actual Hudi writer stores; lets external readers and
            # Hudi→Iceberg syncs stay field-id-stable
            "hoodie.table.create.schema": json.dumps(
                add_id_tracking(
                    structtype_to_avro(table.read_schema, name=table.name or "record")
                )
            ),
        }
        with open(props_file, "w") as f:
            f.write("#Updated at %d\n" % int(time.time() * 1000))
            for k, v in sorted(props.items()):
                if v:
                    f.write(f"{k}={v}\n")
        os.makedirs(os.path.join(self.hoodie_path, "archived"), exist_ok=True)

    def table_properties(self) -> dict[str, str]:
        props: dict[str, str] = {}
        with open(os.path.join(self.hoodie_path, "hoodie.properties")) as f:
            for line in f:
                line = line.strip()
                if line and not line.startswith("#") and "=" in line:
                    k, v = line.split("=", 1)
                    props[k] = v
        return props

    def set_table_properties(self, updates: dict[str, str]) -> None:
        """Merge ``updates`` into hoodie.properties (atomic rewrite) —
        how ``hoodie.table.cdc.enabled`` / the supplemental-logging mode
        get switched on, real Hudi's table-config upgrade path."""
        props = self.table_properties()
        props.update(updates)
        props_file = os.path.join(self.hoodie_path, "hoodie.properties")
        tmp = props_file + ".tmp"
        with open(tmp, "w") as f:
            f.write("#Updated at %d\n" % int(time.time() * 1000))
            for k, v in sorted(props.items()):
                if v:
                    f.write(f"{k}={v}\n")
        os.replace(tmp, props_file)

    # -------------------------------------------------------------- timeline

    def timeline_events(self) -> list[tuple[str, str]]:
        """Sorted [(instant, action)] of ALL completed timeline actions —
        commits (commit/deltacommit/replacecommit) AND undo actions
        (rollback/restore). The undo events stay on the timeline so replay
        can apply them *as of their own instant* (time travel before a
        rollback still sees the rolled-back commit)."""
        if not os.path.isdir(self.hoodie_path):
            return []
        self._ensure_table_version_supported()
        events: list[tuple[str, str]] = []
        for f in os.listdir(self.hoodie_path):
            parts = f.split(".")
            if len(parts) == 2 and parts[1] in COMMIT_ACTIONS + UNDO_ACTIONS:
                events.append((parts[0], parts[1]))
        return sorted(events)

    #: highest hoodie.table.version this timeline reader implements —
    #: 6 is the 0.14.x layout the demo fixture certifies. Hudi 1.0 (table
    #: version 8) RENAMES completed instants to
    #: ``<instant>_<completion>.<action>`` under ``.hoodie/timeline/``, so
    #: reading it with the 0.x layout would see ZERO instants and report a
    #: healthy-looking EMPTY table — the silent-wrong-data failure the r10
    #: guard family refuses.
    MAX_TABLE_VERSION = 6

    def _ensure_table_version_supported(self) -> None:
        if getattr(self, "_tv_checked", False):
            return
        props_file = os.path.join(self.hoodie_path, "hoodie.properties")
        if os.path.exists(props_file):
            tv = int(self.table_properties().get("hoodie.table.version", "6") or 6)
            if tv > self.MAX_TABLE_VERSION:
                raise ValueError(
                    f"hoodie.table.version {tv} at {self.table_path} exceeds "
                    f"the supported {self.MAX_TABLE_VERSION} (the 1.0 "
                    "timeline layout moves/renames completed instants); "
                    "refusing rather than reading an empty timeline"
                )
        self._tv_checked = True

    def _undone_instants(self, events: list[tuple[str, str]]) -> set[str]:
        """Commits undone by a rollback/restore within the given window
        (HudiDataFileExtractor.java:211-243: ROLLBACK lists commitsRollback,
        RESTORE embeds per-commit rollback metadata)."""
        undone: set[str] = set()
        for i, a in events:
            if a in UNDO_ACTIONS:
                with open(os.path.join(self.hoodie_path, f"{i}.{a}")) as fh:
                    payload = json.load(fh)
                undone.update(payload.get("commitsRollback", []))
                undone.update(payload.get("instantsToRollback", []))
        return undone

    def completed_instants(self, as_of: Optional[str] = None, strict: bool = False) -> list[tuple[str, str]]:
        """Sorted [(instant, action)] of completed commits live at ``as_of``
        (undo actions up to that point applied; HudiClient.java:128-149
        backlog source)."""
        events = self.timeline_events()
        if as_of is not None:
            events = [(i, a) for i, a in events if (i < as_of if strict else i <= as_of)]
        undone = self._undone_instants(events)
        return [(i, a) for i, a in events if a in COMMIT_ACTIONS and i not in undone]

    def latest_instant(self) -> Optional[str]:
        instants = self.completed_instants()
        return instants[-1][0] if instants else None

    def pending_instants(self) -> list[str]:
        out = set()
        for f in os.listdir(self.hoodie_path):
            if f.endswith(
                (
                    ".inflight",
                    ".commit.requested",
                    ".deltacommit.requested",
                    ".replacecommit.requested",
                )
            ):
                out.add(f.split(".")[0])
        completed = {i for i, _ in self.completed_instants()}
        return sorted(out - completed)

    def _commit_paths(self, instants: list[tuple[str, str]]) -> list[str]:
        return [os.path.join(self.hoodie_path, f"{i}.{a}") for i, a in instants]

    def _commits_df(self, instants: list[tuple[str, str]]) -> DataFrame:
        """Completed commit metadata as a DataFrame tagged with instant.

        ``multiLine`` because real Hudi writers pretty-print commit JSON
        (HoodieCommitMetadata serializes with an indenting ObjectMapper);
        our own single-line commits parse identically as one-document
        files. Commit files are never split either way — they are small
        except for mega-commits, which are one task regardless.
        """
        df = (
            self.spark.read.schema(COMMIT_META_SCHEMA)
            .option("multiLine", "true")
            .json(self._commit_paths(instants))
        )
        return df.withColumn(
            "instant",
            F.regexp_extract(
                F.element_at(F.split(F.input_file_name(), "/"), -1), r"^(\d+)", 1
            ),
        )

    # ------------------------------------------------------------- snapshot

    def snapshot_files(
        self,
        instant: Optional[str] = None,
        strict: bool = False,
        view: Optional[str] = None,
    ) -> DataFrame:
        """Live file set at ``instant`` (HudiDataFileExtractor.java:113-124).

        Distributed replay: explode per-partition write stats from all
        completed commits, drop file groups replaced by a later-or-equal
        replacecommit, keep the latest slice per fileId. Rollback/restore
        events apply only if they happened at/before ``instant``.

        MOR log files (r11): a deltacommit may append ``.log.`` files to a
        file group; until compaction rewrites the base file those rows are
        invisible to a base-file-only scan. The reference reads the
        read-optimized view and says nothing (HudiDataFileExtractor.java:157
        base-file fsView) — this engine is never silently stale:

        - ``view=None`` (default) REFUSES when unmerged log files exist,
          telling the caller to choose;
        - ``view="read_optimized"``: base files only, caller accepted the
          staleness explicitly;
        - ``view="realtime"``: record counts adjusted per file group by
          the log write-stats (Σ numInserts − numDeletes of log stats
          newer than the base file's instant — updates rewrite rows, net
          zero); column stats are DROPPED on adjusted groups (log inserts
          and updates can move min/max), size stays the base file's.
          A log-only file group (no base file) refuses — there is no
          parquet descriptor to adjust.
        """
        if view not in (None, "read_optimized", "realtime"):
            raise ValueError(f"unknown Hudi view {view!r}")
        instants = self.completed_instants(as_of=instant, strict=strict)
        if not instants:
            return local_rows_df(self.spark, [], FILES_SCHEMA)
        commits = self._commits_df(instants)
        exploded = self._exploded_stats(commits)
        is_log = F.col("ws.path").contains(".log.")
        live = self._live_base_slices(exploded, commits)

        # MOR log plane — only when the timeline holds deltacommits at all
        # (a COW table pays nothing here; the instants list is driver-side)
        adjusted = F.lit(False)
        if view != "read_optimized" and any(a == "deltacommit" for _, a in instants):
            logs = exploded.filter(is_log).select(
                F.col("instant").alias("log_instant"),
                F.col("ws.fileId").alias("file_id"),
                (
                    F.coalesce(F.col("ws.numInserts"), F.lit(0))
                    - F.coalesce(F.col("ws.numDeletes"), F.lit(0))
                ).alias("delta"),
            )
            base_keys = live.select("file_id", F.col("instant").alias("base_instant"))
            unmerged = logs.join(base_keys, "file_id", "left_outer").where(
                F.col("base_instant").isNull()
                | (F.col("log_instant") > F.col("base_instant"))
            )
            if view is None:
                # driver-ok: emptiness probe, one boolean
                if not unmerged.isEmpty():
                    raise ValueError(
                        f"{self.table_path}: MOR table has unmerged log "
                        "files — a base-file snapshot would be silently "
                        "stale. Pass view='realtime' for log-adjusted "
                        "record counts or view='read_optimized' to accept "
                        "the stale base files (the reference's behavior)."
                    )
            else:  # realtime
                # driver-ok: emptiness probe, one boolean
                if not unmerged.where(F.col("base_instant").isNull()).isEmpty():
                    raise ValueError(
                        f"{self.table_path}: MOR file group holds ONLY log "
                        "files (no base file) — no parquet descriptor can "
                        "carry its rows; compact before syncing"
                    )
                eff = (
                    unmerged.groupBy("file_id")
                    .agg(F.sum("delta").alias("_delta"))
                )
                live = live.join(F.broadcast(eff), "file_id", "left_outer")
                adjusted = F.col("_delta").isNotNull()
                live = live.withColumn(
                    "record_count",
                    F.col("record_count") + F.coalesce(F.col("_delta"), F.lit(0)),
                ).withColumn(
                    # EMPTY stats (not null) on adjusted groups: "per-column
                    # stats intentionally unknown" — null would invite
                    # enrich_missing_stats to recompute from the base
                    # file's FOOTER, whose raw counts would undo the
                    # realtime adjustment downstream
                    "stats_json",
                    F.when(adjusted, F.lit("[]")).otherwise(F.col("stats_json")),
                )

        table_path = self.table_path
        return live.select(
            F.concat(F.lit(table_path + "/"), F.col("rel_path")).alias("path"),
            F.lit("parquet").alias("file_format"),
            self._partition_values_col().alias("partition_values"),
            F.col("size"),
            F.col("record_count"),
            # instant is a yyyyMMddHHmmssSSS UTC literal — convert to epoch
            # millis (instant_to_millis as a Column expr; session tz is UTC)
            (
                F.unix_timestamp(F.substring("instant", 1, 14), "yyyyMMddHHmmss") * 1000
                + F.coalesce(F.substring("instant", 15, 3).cast("long"), F.lit(0))
            ).alias("last_modified_millis"),
            F.from_json("stats_json", FILES_SCHEMA["column_stats"].dataType).alias(
                "column_stats"
            ),
        )

    def _exploded_stats(self, commits: DataFrame) -> DataFrame:
        """``(instant, partition, ws)`` — every write stat of the given
        commits, exploded (the shared input of the view/compaction/delete
        planes)."""
        return (
            commits.select(
                "instant",
                F.explode_outer("partitionToWriteStats").alias("partition", "stats"),
            )
            .select("instant", "partition", F.explode("stats").alias("ws"))
        )

    def has_unmerged_logs(self, instant: Optional[str] = None) -> bool:
        """True when any file group carries log files newer than its base
        file (or log files with no base at all) — the state in which a
        base-file scan is stale and a target engine cannot reproduce the
        realtime view's netted counts by scanning parquet."""
        instants = self.completed_instants(as_of=instant)
        if not instants or not any(a == "deltacommit" for _, a in instants):
            return False
        commits = self._commits_df(instants)
        exploded = self._exploded_stats(commits)
        live = self._live_base_slices(exploded, commits)
        logs = exploded.filter(F.col("ws.path").contains(".log.")).select(
            F.col("instant").alias("log_instant"),
            F.col("ws.fileId").alias("file_id"),
        )
        unmerged = logs.join(
            live.select("file_id", F.col("instant").alias("base_instant")),
            "file_id",
            "left_outer",
        ).where(
            F.col("base_instant").isNull()
            | (F.col("log_instant") > F.col("base_instant"))
        )
        # driver-ok: emptiness probe, one boolean
        return not unmerged.isEmpty()

    def _live_base_slices(
        self, exploded: DataFrame, commits: DataFrame
    ) -> DataFrame:
        """Latest BASE-file slice per live file group: explode write
        stats, drop log paths, keep the newest stat per fileId, anti-join
        groups replaced at a later-or-equal replacecommit (broadcast:
        replace sets are tiny). Columns: ``(instant, file_id, rel_path,
        partition_path, size, record_count, stats_json)`` — the shared
        core of ``snapshot_files`` and the delete-log writer (which needs
        the base instant + fileId a log file attaches to)."""
        is_log = F.col("ws.path").contains(".log.")
        adds = exploded.filter(~is_log).select(
            "instant",
            F.col("ws.fileId").alias("file_id"),
            F.col("ws.path").alias("rel_path"),
            F.col("ws.partitionPath").alias("partition_path"),
            F.col("ws.fileSizeInBytes").alias("size"),
            F.col("ws.numWrites").alias("record_count"),
            F.col("ws.columnStats").alias("stats_json"),
        )
        replaced = commits.select(
            F.col("instant").alias("replace_instant"),
            F.explode_outer("partitionToReplaceFileIds").alias("partition", "file_ids"),
        ).select("replace_instant", F.explode("file_ids").alias("file_id"))

        from pyspark.sql.window import Window

        w = Window.partitionBy("file_id").orderBy(F.desc("instant"))
        latest = adds.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
        return latest.join(
            F.broadcast(replaced),
            (latest.file_id == replaced.file_id) & (replaced.replace_instant >= latest.instant),
            "left_anti",
        )

    def verify_log_stats(self, instant: Optional[str] = None) -> DataFrame:
        """Trust-but-verify for MOR log files (the Hudi twin of
        ``DeltaLog.verify_deletion_vectors``): executors parse each log
        file's actual HoodieLogFormat blocks (formats/hudi_log.py —
        layout byte-verified against real Hudi-0.14 files) and compare
        the decoded AVRO_DATA record counts against the timeline
        write-stat the realtime view trusted. One row per log file:
        ``(path, stat_num_writes, decoded_records, unparsed_block_types,
        log_ok)`` — ``log_ok`` is null (not false) when the file holds
        block kinds whose counts bytes alone cannot give (hfile/parquet
        blocks); those never silently pass."""
        import pandas as _pd

        from onetable_spark.formats.hudi_log import log_file_record_count

        out_schema = (
            "path string, stat_num_writes long, stat_num_deletes long, "
            "decoded_records long, decoded_deletes long, "
            "unparsed_block_types array<string>, log_ok boolean"
        )
        instants = self.completed_instants(as_of=instant)
        if not instants:
            return local_rows_df(self.spark, [], out_schema)
        commits = self._commits_df(instants)
        table_path = self.table_path
        logs = (
            commits.select(F.explode_outer("partitionToWriteStats").alias("partition", "stats"))
            .select(F.explode("stats").alias("ws"))
            .where(F.col("ws.path").contains(".log."))
            .select(
                F.concat(F.lit(table_path + "/"), F.col("ws.path")).alias("path"),
                F.col("ws.numWrites").alias("stat_num_writes"),
                F.coalesce(F.col("ws.numDeletes"), F.lit(0)).alias("stat_num_deletes"),
            )
        )

        def check(batches):
            for pdf in batches:
                rows = []
                for path, nw, nd in zip(
                    pdf["path"], pdf["stat_num_writes"], pdf["stat_num_deletes"]
                ):
                    got = log_file_record_count(path)
                    ok = (
                        None
                        if got["unparsed_block_types"]
                        else got["records"] == nw and got["deletes"] == nd
                    )
                    rows.append(
                        {
                            "path": path,
                            "stat_num_writes": nw,
                            "stat_num_deletes": nd,
                            "decoded_records": got["records"],
                            "decoded_deletes": got["deletes"],
                            "unparsed_block_types": got["unparsed_block_types"],
                            "log_ok": ok,
                        }
                    )
                yield _pd.DataFrame(
                    rows,
                    columns=[
                        "path", "stat_num_writes", "stat_num_deletes",
                        "decoded_records", "decoded_deletes",
                        "unparsed_block_types", "log_ok",
                    ],
                )

        return logs.mapInPandas(check, out_schema)

    def _partition_values_col(self):
        """partition_path 'a=1/b=2' or '' → map (HudiPartitionValuesExtractor
        hive-style parse)."""
        return F.when(
            F.col("partition_path").isNull() | (F.col("partition_path") == ""), F.expr("map()")
        ).otherwise(
            F.expr(
                "map_from_entries(transform(split(partition_path, '/'),"
                " s -> struct(split(s, '=')[0], split(s, '=')[1])))"
            )
        )

    def _latest_commit_schema(self) -> Optional[dict]:
        """Avro schema of the newest completed commit carrying one —
        TableSchemaResolver.getTableAvroSchema parity: after evolution the
        COMMIT schema is authoritative, hoodie.properties keeps only the
        create schema."""
        for instant, action in reversed(self.completed_instants()):
            try:
                with open(os.path.join(self.hoodie_path, f"{instant}.{action}")) as f:
                    meta = json.load(f)
            except (OSError, ValueError):
                continue
            # real Hudi writers store the Avro schema under
            # extraMetadata["schema"] (HoodieCommitMetadata SCHEMA_KEY);
            # our own commits also mirror it to top-level schemaString
            raw = meta.get("schemaString") or (meta.get("extraMetadata") or {}).get(
                "schema"
            )
            if raw:
                avro = json.loads(raw) if isinstance(raw, str) else raw
                # our own commits store Avro JSON; tolerate StructType JSON
                # from pre-C1 commits
                if isinstance(avro, dict) and avro.get("type") == "struct":
                    return None
                return avro
        return None

    def table_descriptor(self, name: str | None = None) -> Table:
        props = self.table_properties()
        schema_json = props.get("hoodie.table.schema")
        avro_json = props.get("hoodie.table.create.schema")
        commit_avro = self._latest_commit_schema()
        if commit_avro is not None:
            # schema may have EVOLVED since table creation — the latest
            # commit wins (TableSchemaResolver), ids from its tracking
            schema = avro_to_structtype(commit_avro)
            tracked_ids = id_tracking_to_field_ids(commit_avro)
        elif schema_json:
            schema = T.StructType.fromJson(json.loads(schema_json))
            tracked_ids = id_tracking_to_field_ids(json.loads(avro_json)) if avro_json else {}
        elif avro_json:
            # table written by a real Hudi writer: only the Avro create
            # schema exists (C1 logical-type decode)
            schema = avro_to_structtype(json.loads(avro_json))
            tracked_ids = id_tracking_to_field_ids(json.loads(avro_json))
        else:
            schema = T.StructType([])
            tracked_ids = {}
        if tracked_ids:
            schema = inject_field_ids(schema, tracked_ids)
        spec = props.get("onetable.partition.spec", "")
        if spec:
            from onetable_spark.schema.partitions import parse_hudi_partition_config

            pfields = tuple(parse_hudi_partition_config(spec))
        else:
            pfields = tuple(
                PartitionField(source_field=p)
                for p in props.get("hoodie.table.partition.fields", "").split(",")
                if p
            )
        latest = self.latest_instant()
        return Table(
            name=name or props.get("hoodie.table.name", os.path.basename(self.table_path)),
            base_path=self.table_path,
            table_format=TableFormat.HUDI,
            read_schema=schema,
            partition_fields=pfields,
            record_key_fields=tuple(
                k for k in props.get("hoodie.table.recordkey.fields", "").split(",") if k
            ),
            layout=(
                DataLayoutStrategy.HIVE_STYLE_PARTITION
                if props.get("hoodie.datasource.write.hive_style_partitioning") == "true"
                else DataLayoutStrategy.FLAT
            ),
            latest_commit_millis=instant_to_millis(latest) if latest else 0,
        )

    def current_snapshot(self, view: Optional[str] = None) -> Snapshot:
        latest = self.latest_instant()
        return Snapshot(
            table=self.table_descriptor(),
            files=self.snapshot_files(latest, view=view),
            version=latest or "0",
            pending_commits=tuple(instant_to_millis(i) for i in self.pending_instants()),
        )

    def changes_for_instant(self, instant: str, view: Optional[str] = None) -> TableChange:
        """Per-instant diff (HudiDataFileExtractor.java:146-255 dispatch:
        COMMIT/DELTA_COMMIT add base files, REPLACE adds + removes replaced
        groups, ROLLBACK/RESTORE remove the undone commits' files).

        All four are expressed uniformly as the G1 anti-join diff between
        the as-of snapshots strictly-before and at the instant — the undo
        actions fall out naturally because ``snapshot_files`` applies them
        by their own timeline position. ``view`` flows to both snapshots
        (the MOR posture, see ``snapshot_files``): with ``realtime`` a
        log-appending deltacommit diffs as record-count changes on its
        file group's base descriptor — BUT an unchanged path with a
        changed count needs a remove+add, which the path-keyed anti-join
        would miss, so count-changed paths are added to both sides."""
        match = [(i, a) for i, a in self.timeline_events() if i == instant]
        if not match:
            raise ValueError(f"no completed instant {instant}")
        before = self.snapshot_files_before(instant, view=view)
        after = self.snapshot_files(instant, view=view)
        added = after.join(before.select("path"), "path", "left_anti")
        removed = before.join(after.select("path"), "path", "left_anti")
        if view == "realtime":
            # same path, different record_count = the log-append shape:
            # replace the descriptor (remove+add in one change)
            b = before.select("path", F.col("record_count").alias("_before_rc"))
            changed = (
                after.join(b, "path")
                .where(
                    ~F.col("record_count").eqNullSafe(F.col("_before_rc"))
                )
                .drop("_before_rc")
            )
            added = added.unionByName(changed)
            removed = removed.unionByName(changed.select(*before.columns))
        return TableChange(
            table=self.table_descriptor(),
            diff=FilesDiff(added=added, removed=removed),
            commit_millis=instant_to_millis(instant),
            commit_id=instant,
        )

    def snapshot_files_before(self, instant: str, view: Optional[str] = None) -> DataFrame:
        return self.snapshot_files(instant, strict=True, view=view)

    def _commit_heads(self, instants: list[tuple[str, str]]) -> dict[str, dict]:
        """Per-instant commit-head facts in ONE Spark job over ALL the
        range's commit files (keyed by ``input_file_name()``; the r13
        form ran one ``.first()`` job per instant — 10k instants meant
        10k scheduling round-trips): operationType plus four
        payload-presence flags (base adds / data logs / replaced groups
        / supplemental cdc files). driver-ok: one tiny row per instant."""
        heads: dict[str, dict] = {}
        if not instants:
            return heads
        hpaths = [
            os.path.join(self.hoodie_path, f"{i}.{a}") for i, a in instants
        ]
        hdf = self.spark.read.schema(COMMIT_META_SCHEMA).json(hpaths).select(
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("_fname"),
            "operationType",
            (F.size(F.coalesce(F.map_keys("partitionToReplaceFileIds"), F.array())) > 0).alias("has_replace"),
            F.coalesce(
                F.aggregate(
                    F.flatten(F.coalesce(F.map_values("partitionToWriteStats"), F.array())),
                    F.struct(
                        F.lit(False).alias("b"),
                        F.lit(False).alias("l"),
                        F.lit(False).alias("c"),
                    ),
                    lambda acc, s: F.struct(
                        # coalesce each step: a null stat path would
                        # otherwise poison the OR fold (false|null=null)
                        (acc["b"] | F.coalesce(
                            s["path"].endswith(".parquet")
                            & (s["numInserts"] > 0),
                            F.lit(False),
                        )).alias("b"),
                        (acc["l"] | F.coalesce(
                            s["path"].contains(".log."), F.lit(False)
                        )).alias("l"),
                        (acc["c"] | F.coalesce(
                            F.size(F.map_keys(s["cdcStats"])) > 0,
                            F.lit(False),
                        )).alias("c"),
                    ),
                ),
                F.struct(
                    F.lit(False).alias("b"),
                    F.lit(False).alias("l"),
                    F.lit(False).alias("c"),
                ),
            ).alias("present"),
        )
        for r in hdf.collect():
            heads[r["_fname"].split(".", 1)[0]] = {
                "op": r["operationType"],
                "has_base": bool(r["present"]["b"]),
                "has_logs": bool(r["present"]["l"]),
                "has_cdc": bool(r["present"]["c"]),
                "has_replace": bool(r["has_replace"]),
            }
        return heads

    def changelog(
        self,
        from_instant: Optional[str] = None,
        to_instant: Optional[str] = None,
        identifier_fields: Optional[list[str]] = None,
    ) -> DataFrame:
        """ROW-LEVEL Hudi changelog (r13 — the third edge of the
        cross-format CDC triangle; siblings: ``DeltaLog.change_feed``,
        ``IcebergTable.changelog``): table rows + ``_change_operation``
        ('i'/'u'/'d' — Hudi's own CDC op vocabulary) +
        ``_commit_instant`` for every completed commit-type instant in
        (from_instant, to_instant].

        Per instant, by what the commit metadata proves:

        - new BASE parquet with inserts → its rows as 'i';
        - MOR LOG files → their blocks WITH THIS INSTANT's header:
          AVRO_DATA upsert records decode through the byte-certified
          codec as 'u' (after-images — real Hudi CDC emits before images
          only with the supplemental cdc log, which external-registration
          tables don't carry); DELETE blocks as 'd' rows carrying the
          record key (other columns null — the key is all a Hudi delete
          record holds);
        - ``partitionToReplaceFileIds`` → the replaced groups' base-file
          rows at the PRIOR instant as 'd' (file-level derivation, the
          same fallback the Delta reader uses for remove-only commits);
        - operationType COMPACT / CLUSTER instants emit NOTHING — layout
          rewrites are not logical changes (compact_file_groups and the
          clustering planner stamp them accordingly).

        ``identifier_fields`` (r14 — the cross-format twin of
        ``IcebergTable.changelog``'s identifier-columns mode): when
        given, a same-key 'd'+'i' within one instant (the replace-commit
        upsert shape) pairs into ``update_preimage``/``update_postimage``
        — one extra shuffle on (instant, keys); keys assumed unique per
        instant. Log-block 'u' after-images are already updates and pass
        through unchanged.

        Probe plan (r14): ALL in-range commit heads — operationType plus
        the three payload-presence flags — come off ONE ``spark.read.json``
        over the range's commit files keyed by ``input_file_name()``; the
        r13 form ran one ``.first()`` job per instant, pure scheduling
        overhead over long ranges.
        """
        import json as _json

        props = self.table_properties()
        raw_schema = props.get("hoodie.table.schema")
        if not raw_schema:
            raise ValueError(f"{self.table_path}: table carries no schema")
        schema = T.StructType.fromJson(_json.loads(raw_schema))
        key_fields = [
            k for k in props.get("hoodie.table.recordkey.fields", "").split(",") if k
        ]
        out_schema = T.StructType(
            list(schema.fields)
            + [
                T.StructField("_change_operation", T.StringType()),
                T.StructField("_commit_instant", T.StringType()),
            ]
        )
        instants = [
            (i, a)
            for i, a in self.completed_instants()
            if a in COMMIT_ACTIONS
            and (from_instant is None or i > from_instant)
            and (to_instant is None or i <= to_instant)
        ]
        table_path = self.table_path
        field_names = [f.name for f in schema.fields]
        numeric_kf = _numeric_key_fields(schema, key_fields)
        frames = []
        heads = self._commit_heads(instants)
        for instant, action in instants:
            cpath = os.path.join(self.hoodie_path, f"{instant}.{action}")
            head = heads[instant]
            if head["op"] in ("COMPACT", "CLUSTER"):
                continue
            has_base, has_logs = head["has_base"], head["has_logs"]
            has_replace = head["has_replace"]
            cdf = self.spark.read.schema(COMMIT_META_SCHEMA).json([cpath])
            stats = (
                cdf.select(
                    F.explode_outer("partitionToWriteStats").alias("partition", "stats")
                )
                .select(F.explode_outer("stats").alias("s"))
                .select("s.path", "s.numInserts")
                .where(F.col("path").isNotNull())
                .withColumn(
                    "abs_path",
                    F.when(
                        F.col("path").startswith("/") | F.col("path").contains("://"),
                        F.col("path"),
                    ).otherwise(F.concat(F.lit(table_path + "/"), F.col("path"))),
                )
            )

            def stamp(df: DataFrame, change: str) -> DataFrame:
                return df.withColumn(
                    "_change_operation", F.lit(change)
                ).withColumn("_commit_instant", F.lit(instant))

            def read_rows(paths_df: DataFrame) -> DataFrame:
                def read(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                    import pyarrow.parquet as _pq

                    for pdf in batches:
                        for p in pdf["abs_path"]:
                            yield _pq.read_table(p).to_pandas(
                                integer_object_nulls=True
                            )

                return paths_df.select("abs_path").mapInPandas(read, schema)

            base_adds = stats.where(
                F.col("path").endswith(".parquet") & (F.col("numInserts") > 0)
            )
            if has_base:
                frames.append(stamp(read_rows(base_adds), "i"))

            logs = stats.where(F.col("path").contains(".log."))
            if has_logs:
                this_instant = instant

                def read_blocks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                    import pandas as pd

                    from onetable_spark.formats.hudi_log import (
                        avro_block_records,
                        delete_block_records,
                        read_log_blocks,
                    )

                    for pdf in batches:
                        urows, dkeys = [], []
                        for p in pdf["abs_path"]:
                            for b in read_log_blocks(p):
                                if b["headers"].get("instant_time") != this_instant:
                                    continue
                                if b["type"] == "avro_data":
                                    _, recs = avro_block_records(b, decode=True)
                                    urows.extend(recs)
                                elif b["type"] == "delete":
                                    _, recs = delete_block_records(b)
                                    dkeys.extend(r.get("recordKey") for r in recs)
                        out = pd.DataFrame(urows, columns=field_names)
                        out["_op"] = "u"
                        if dkeys:
                            # HoodieKey strings back into typed key
                            # columns — ALL of them for composite keys
                            dd = delete_key_frame(
                                dkeys, field_names, key_fields, numeric_kf
                            )
                            dd["_op"] = "d"
                            out = pd.concat([out, dd])
                        yield out

                log_schema = T.StructType(
                    list(schema.fields) + [T.StructField("_op", T.StringType())]
                )
                log_rows = logs.select("abs_path").mapInPandas(
                    read_blocks, log_schema
                )
                frames.append(
                    log_rows.withColumnRenamed("_op", "_change_operation").withColumn(
                        "_commit_instant", F.lit(instant)
                    )
                )

            replaced_ids = (
                cdf.select(
                    F.explode_outer("partitionToReplaceFileIds").alias("pp", "ids")
                )
                .select(F.explode_outer("ids").alias("file_id"))
                .where(F.col("file_id").isNotNull())
            )
            if has_replace:
                prior = self.snapshot_files_before(instant, view="read_optimized")

                def with_fid(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                    for pdf in batches:
                        rel = pdf["path"].map(
                            lambda p: p[len(table_path) + 1:]
                            if p.startswith(table_path)
                            else p
                        )
                        pdf = pdf[["path"]].copy()
                        pdf["file_id"] = rel.map(_file_id_for)
                        pdf["abs_path"] = pdf["path"]
                        yield pdf[["abs_path", "file_id"]]

                prior_fids = prior.select("path").mapInPandas(
                    with_fid, "abs_path string, file_id string"
                )
                victims = prior_fids.join(
                    F.broadcast(replaced_ids), "file_id", "left_semi"
                )
                frames.append(stamp(read_rows(victims), "d"))

        if not frames:
            return local_rows_df(self.spark, [], out_schema)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        if identifier_fields:
            missing = [
                c for c in identifier_fields if c not in schema.fieldNames()
            ]
            if missing:
                raise ValueError(
                    f"{self.table_path}: identifier fields {missing} not in "
                    "the table schema"
                )
            from pyspark.sql import Window

            w = Window.partitionBy("_commit_instant", *identifier_fields)
            kinds = F.collect_set("_change_operation").over(w)
            both = F.array_contains(kinds, "i") & F.array_contains(kinds, "d")
            out = out.withColumn(
                "_change_operation",
                F.when(
                    both & (F.col("_change_operation") == "d"),
                    F.lit("update_preimage"),
                )
                .when(
                    both & (F.col("_change_operation") == "i"),
                    F.lit("update_postimage"),
                )
                .otherwise(F.col("_change_operation")),
            )
        return out

    def cdc_feed(
        self,
        from_instant: Optional[str] = None,
        to_instant: Optional[str] = None,
    ) -> DataFrame:
        """Hudi CDC QUERY (r14 — RFC-51 / ``hoodie.table.cdc.enabled``):
        the shape real Hudi's ``hoodie.datasource.query.incremental.format
        =cdc`` read returns (CDCRelation.FULL_CDC_SPARK_SCHEMA): one row
        per changed record with ``op`` ('i'/'u'/'d'), ``ts_ms`` (commit
        epoch millis as string) and ``before``/``after`` images as JSON
        strings.

        Per FILE GROUP, by RFC-51's inference cases:

        - a supplemental ``-cdc`` log file (advertised by its write
          stat's ``cdcStats`` — what ``upsert_records`` authors when the
          table property is on) is AUTHORITATIVE: its CDC_DATA block
          decodes verbatim through the byte-certified codec, EXACT
          before-images included;
        - a new base file with inserts and no cdc stats → RFC-51's
          BASE_FILE_INSERT inference: its rows as op='i', after-image
          only;
        - data log files whose stat carries no cdc stats (foreign or
          pre-enable writers) → 'u' after-images and DELETE-block 'd'
          rows with a key-only before image — the same documented
          inference limit as ``changelog()``;
        - replaced file groups → 'd' with the prior rows as FULL before
          images; operationType COMPACT/CLUSTER instants emit nothing.

        JSON formatting varies by leg (writer-authored ``json.dumps`` vs
        Spark ``to_json``), exactly as real Hudi's avro-toString vs
        row-JSON renderings do — consumers extract fields, not bytes.
        """
        import json as _json

        props = self.table_properties()
        raw_schema = props.get("hoodie.table.schema")
        if not raw_schema:
            raise ValueError(f"{self.table_path}: table carries no schema")
        schema = T.StructType.fromJson(_json.loads(raw_schema))
        key_fields = [
            k for k in props.get("hoodie.table.recordkey.fields", "").split(",") if k
        ]
        out_schema = T.StructType(
            [
                T.StructField("op", T.StringType()),
                T.StructField("ts_ms", T.StringType()),
                T.StructField("before", T.StringType()),
                T.StructField("after", T.StringType()),
            ]
        )
        instants = [
            (i, a)
            for i, a in self.completed_instants()
            if a in COMMIT_ACTIONS
            and (from_instant is None or i > from_instant)
            and (to_instant is None or i <= to_instant)
        ]
        table_path = self.table_path
        field_names = [f.name for f in schema.fields]
        heads = self._commit_heads(instants)
        frames = []
        for instant, action in instants:
            head = heads[instant]
            if head["op"] in ("COMPACT", "CLUSTER"):
                continue
            cpath = os.path.join(self.hoodie_path, f"{instant}.{action}")
            cdf = self.spark.read.schema(COMMIT_META_SCHEMA).json([cpath])
            stats = (
                cdf.select(
                    F.explode_outer("partitionToWriteStats").alias("partition", "stats")
                )
                .select(F.explode_outer("stats").alias("s"))
                .select("s.path", "s.numInserts", "s.cdcStats")
                .where(F.col("path").isNotNull())
                .withColumn(
                    "abs_path",
                    F.when(
                        F.col("path").startswith("/") | F.col("path").contains("://"),
                        F.col("path"),
                    ).otherwise(F.concat(F.lit(table_path + "/"), F.col("path"))),
                )
                .withColumn(
                    "has_cdc",
                    F.coalesce(F.size(F.map_keys("cdcStats")) > 0, F.lit(False)),
                )
            )
            ts_ms = str(instant_to_millis(instant))
            this_instant = instant
            to_json_opts = {"ignoreNullFields": "false"}

            if head["has_cdc"]:
                # authoritative leg: the cdc files themselves
                cdc_paths = stats.where("has_cdc").select(
                    F.explode(F.map_keys("cdcStats")).alias("rel")
                ).select(
                    F.when(
                        F.col("rel").startswith("/") | F.col("rel").contains("://"),
                        F.col("rel"),
                    ).otherwise(F.concat(F.lit(table_path + "/"), F.col("rel")))
                    .alias("abs_path")
                )

                def read_cdc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                    import pandas as pd

                    from onetable_spark.formats.hudi_log import (
                        avro_block_records,
                        read_log_blocks,
                    )

                    cols_ = ["op", "ts_ms", "before", "after"]
                    for pdf in batches:
                        rows = []
                        for p in pdf["abs_path"]:
                            for b in read_log_blocks(p):
                                if b["type"] != "cdc_data":
                                    continue
                                if b["headers"].get("instant_time") != this_instant:
                                    continue
                                _, recs = avro_block_records(b, decode=True)
                                rows.extend(
                                    {
                                        "op": r.get("op"),
                                        "ts_ms": r.get("ts_ms") or ts_ms,
                                        "before": r.get("before"),
                                        "after": r.get("after"),
                                    }
                                    for r in recs
                                )
                        yield pd.DataFrame(rows, columns=cols_)

                frames.append(
                    cdc_paths.mapInPandas(read_cdc, out_schema)
                )

            def rows_as(paths_df: DataFrame, op: str, image: str) -> DataFrame:
                """Read full rows of the given parquet files and wrap
                them as one-image cdc rows (the inference legs)."""

                def read(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                    import pyarrow.parquet as _pq

                    for pdf in batches:
                        for p in pdf["abs_path"]:
                            yield _pq.read_table(p).to_pandas(
                                integer_object_nulls=True
                            )

                rows = paths_df.select("abs_path").mapInPandas(read, schema)
                img = F.to_json(F.struct(*field_names), to_json_opts)
                return rows.select(
                    F.lit(op).alias("op"),
                    F.lit(ts_ms).alias("ts_ms"),
                    (img if image == "before" else F.lit(None).cast("string")).alias("before"),
                    (img if image == "after" else F.lit(None).cast("string")).alias("after"),
                )

            if head["has_base"]:
                # BASE_FILE_INSERT inference: new file groups, no cdc log
                base_adds = stats.where(
                    F.col("path").endswith(".parquet")
                    & (F.col("numInserts") > 0)
                    & ~F.col("has_cdc")
                )
                frames.append(rows_as(base_adds, "i", "after"))

            if head["has_logs"]:
                # non-cdc data logs: after-image 'u' / key-only 'd'
                logs = stats.where(
                    F.col("path").contains(".log.") & ~F.col("has_cdc")
                )

                def read_blocks(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                    import json as _json2

                    import pandas as pd

                    from onetable_spark.formats.hudi_log import (
                        avro_block_records,
                        delete_block_records,
                        read_log_blocks,
                    )

                    cols_ = ["op", "ts_ms", "before", "after"]
                    for pdf in batches:
                        rows = []
                        for p in pdf["abs_path"]:
                            for b in read_log_blocks(p):
                                if b["headers"].get("instant_time") != this_instant:
                                    continue
                                if b["type"] == "avro_data":
                                    _, recs = avro_block_records(b, decode=True)
                                    rows.extend(
                                        {
                                            "op": "u",
                                            "ts_ms": ts_ms,
                                            "before": None,
                                            "after": _json2.dumps(r, default=str),
                                        }
                                        for r in recs
                                    )
                                elif b["type"] == "delete":
                                    _, recs = delete_block_records(b)
                                    rows.extend(
                                        {
                                            "op": "d",
                                            "ts_ms": ts_ms,
                                            # composite keys split into
                                            # ALL their fields (r15)
                                            "before": _json2.dumps(
                                                record_key_to_dict(
                                                    r.get("recordKey"),
                                                    key_fields,
                                                )
                                                if key_fields
                                                else {
                                                    "record_key":
                                                    r.get("recordKey")
                                                }
                                            ),
                                            "after": None,
                                        }
                                        for r in recs
                                    )
                        yield pd.DataFrame(rows, columns=cols_)

                frames.append(
                    logs.select("abs_path").mapInPandas(read_blocks, out_schema)
                )

            if head["has_replace"]:
                replaced_ids = (
                    cdf.select(
                        F.explode_outer("partitionToReplaceFileIds").alias("pp", "ids")
                    )
                    .select(F.explode_outer("ids").alias("file_id"))
                    .where(F.col("file_id").isNotNull())
                )
                prior = self.snapshot_files_before(instant, view="read_optimized")

                def with_fid(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                    for pdf in batches:
                        rel = pdf["path"].map(
                            lambda p: p[len(table_path) + 1:]
                            if p.startswith(table_path)
                            else p
                        )
                        pdf = pdf[["path"]].copy()
                        pdf["file_id"] = rel.map(_file_id_for)
                        pdf["abs_path"] = pdf["path"]
                        yield pdf[["abs_path", "file_id"]]

                prior_fids = prior.select("path").mapInPandas(
                    with_fid, "abs_path string, file_id string"
                )
                victims = prior_fids.join(
                    F.broadcast(replaced_ids), "file_id", "left_semi"
                )
                frames.append(rows_as(victims, "d", "before"))

        if not frames:
            return local_rows_df(self.spark, [], out_schema)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def instants_after_millis(self, millis: int) -> list[str]:
        """Syncable backlog: commit-type AND undo events after the watermark
        (the reference's backlog walks the full active timeline and its
        change extractor dispatches per action)."""
        return [i for i, _ in self.timeline_events() if instant_to_millis(i) > millis]

    def is_incremental_sync_safe_from(self, millis: int) -> bool:
        """HudiClient.java:151-175: a completed commit at/before the instant
        must still exist on the active timeline (not archived away)."""
        instants = self.completed_instants()
        return bool(instants) and instant_to_millis(instants[0][0]) <= millis

    def get_sync_metadata(self) -> Optional[TableMetadata]:
        """Watermark from latest commit's extraMetadata (K13)."""
        for i, a in reversed(self.completed_instants()):
            with open(os.path.join(self.hoodie_path, f"{i}.{a}")) as f:
                extra = json.load(f).get("extraMetadata") or {}
            meta = TableMetadata.from_props(extra)
            if meta is not None:
                return meta
        return None

    # ----------------------------------------------------------------- write

    def new_instant(self) -> str:
        instant = millis_to_instant(int(time.time() * 1000))
        # monotonic even when two commits land in the same millisecond
        existing = {i for i, _ in self.timeline_events()} | set(self.pending_instants())
        while instant in existing:
            instant = millis_to_instant(instant_to_millis(instant) + 1)
        return instant

    def _claim_instant(self, action: str, max_retries: int = 100) -> tuple[str, str]:
        """Atomically claim a fresh instant by creating its ``.requested``
        marker with O_EXCL — ``new_instant`` alone is check-then-act, so two
        concurrent writers reading the same timeline could pick the same
        instant and silently overwrite each other's lifecycle files. The
        create-if-absent claim makes exactly one writer win each instant
        (the loser bumps and retries), the same single-winner primitive the
        Delta version claim and Iceberg version-hint CAS use."""
        for _ in range(max_retries):
            instant = self.new_instant()
            req = os.path.join(self.hoodie_path, f"{instant}.{action}.requested")
            try:
                fd = os.open(req, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                return instant, req
            except FileExistsError:
                continue
        raise RuntimeError(f"could not claim a Hudi instant after {max_retries} attempts")

    def commit(
        self,
        adds: DataFrame | None = None,
        replace_file_ids: dict[str, list[str]] | None = None,
        extra_metadata: Optional[dict[str, str]] = None,
        schema: Optional[T.StructType] = None,
        operation: str = "UPSERT",
        action: Optional[str] = None,
    ) -> str:
        """Write one completed commit through the requested→inflight→completed
        lifecycle (HudiTargetClient.java:190-280).

        ``adds``: FILES_SCHEMA rows to register (each becomes its own file
        group — external-file semantics). ``replace_file_ids``: partition →
        fileIds to replace → emitted as a replacecommit. ``action`` forces
        the instant action (e.g. ``deltacommit`` to model a MOR writer).
        """
        if action is None:
            action = "replacecommit" if replace_file_ids else "commit"
        instant, req = self._claim_instant(action)
        inflight = os.path.join(
            self.hoodie_path,
            # COW commit inflight has no action infix (Hudi timeline quirk);
            # deltacommit/replacecommit inflights carry it
            f"{instant}.inflight" if action == "commit" else f"{instant}.{action}.inflight",
        )
        open(inflight, "w").close()

        we_cached_adds = False
        sorted_adds = None
        if adds is not None:
            # commit consumes adds twice (write-stats stream here, metadata-
            # table index below); for a footer-scan inventory each pass
            # re-runs the distributed footer job — cache it for the commit
            from pyspark import StorageLevel

            if adds.storageLevel == StorageLevel.NONE:
                adds = adds.persist(StorageLevel.MEMORY_AND_DISK)
                we_cached_adds = True
            # partition path derived SPARK-SIDE and globally sorted so one
            # streaming pass over the Arrow batches sees each partition's
            # write-stats contiguously — partitionToWriteStats then writes
            # straight to the commit file without ever holding the O(table)
            # stats dict (r8; the r7 dict+Row scheme peaked at ~380 MB per
            # 500k files — the Arrow stream is O(batch))
            sorted_adds = adds.withColumn(
                "_pp",
                F.concat_ws(
                    "/",
                    F.transform(
                        F.map_entries("partition_values"),
                        lambda e: F.concat_ws("=", e["key"], e["value"]),
                    ),
                ),
            ).orderBy("_pp")
        # the non-stats commit keys, built up-front; partitionToWriteStats
        # streams separately in the writer below
        meta = {
            "compacted": False,
            "operationType": operation,
            "extraMetadata": dict(extra_metadata or {}),
        }
        if schema is not None:
            # real Hudi stores the AVRO schema string in commit metadata;
            # id tracking is threaded from the create schema so evolution
            # keeps prior field ids (IdTracker.addIdTracking previousSchema)
            from onetable_spark.formats.avro_schema import UnsupportedAvroTypeError

            try:
                # previous = the latest COMMIT schema (its tracking carries
                # every id assigned so far — threading from the create
                # schema would recycle ids across successive evolutions)
                prev_avro = self._latest_commit_schema()
                if prev_avro is None:
                    raw = self.table_properties().get("hoodie.table.create.schema")
                    prev_avro = json.loads(raw) if raw else None
                meta["schemaString"] = json.dumps(
                    add_id_tracking(
                        structtype_to_avro(schema, name="record"),
                        previous=prev_avro,
                    )
                )
                # mirror to the key real Hudi readers look up
                # (HoodieCommitMetadata SCHEMA_KEY = "schema")
                meta["extraMetadata"]["schema"] = meta["schemaString"]
            except UnsupportedAvroTypeError:
                # Avro can't express this schema (e.g. non-string map keys)
                # — fall back to the StructType JSON form readers tolerate
                meta["schemaString"] = json.dumps(schema.jsonValue())
        if replace_file_ids:
            meta["partitionToReplaceFileIds"] = replace_file_ids
        completed = os.path.join(self.hoodie_path, f"{instant}.{action}")
        tmp = completed + ".tmp"
        table_prefix = self.table_path.rstrip("/") + "/"

        def _stat_json(rel: str, pp: str, record_count, size, column_stats) -> str:
            """One write-stat entry as a JSON string — shared by the
            driver loop (small commits) and the executor batches (large
            commits); pure function so both paths serialize identically."""
            return json.dumps(
                {
                    "fileId": _file_id_for(rel),
                    "path": rel,
                    "prevCommit": "null",
                    "numWrites": record_count or 0,
                    # FILES_SCHEMA adds model pure inserts (external
                    # registration); log appends with update/delete
                    # splits come from real writers or raw-JSON fixtures
                    "numInserts": record_count or 0,
                    "numDeletes": 0,
                    "numUpdateWrites": 0,
                    "totalWriteBytes": size or 0,
                    "fileSizeInBytes": size or 0,
                    "partitionPath": pp,
                    "columnStats": (
                        json.dumps([dict(s) for s in column_stats])
                        if column_stats
                        else None
                    ),
                }
            )

        def _stat_pairs():
            """(partition_path, stat_json) pairs in global _pp order.

            Small commits: the r8 driver Arrow stream, one dict at a time.
            Large commits (r13, mega-commit profile): the per-row work —
            uuid5 fileId derivation, the stats-dict build, json.dumps —
            was ~60% of a 1M-entry commit's wall on the single-threaded
            driver; it now runs as a mapInArrow pass on the EXECUTORS
            (order-preserving narrow map over the pre-sorted frame, fed
            from the persisted adds), and the driver only concatenates
            the returned strings. Hudi's commit is ONE json file, so the
            file write itself stays a driver stream either way."""
            # driver-ok: one scalar; adds is persisted above precisely
            # because the commit consumes it more than once
            n = sorted_adds.count()
            if n <= _STATS_DISTRIBUTE_THRESHOLD:
                from onetable_spark.model import iter_inventory_rows

                for row in iter_inventory_rows(sorted_adds):
                    rel = row["path"]
                    if rel.startswith(table_prefix):
                        rel = rel[len(table_prefix):]
                    yield row["_pp"] or "", _stat_json(
                        rel, row["_pp"] or "", row["record_count"],
                        row["size"], row["column_stats"],
                    )
                return

            def stat_chunks(batches):
                """Pre-joined CHUNK-sized runs of stat JSON per contiguous
                partition path: the driver then streams ~n/CHUNK fat rows
                instead of n thin ones (1M thin Rows cost ~10 s of driver
                deserialization; a full toArrow costs ~200 MB RSS — the
                chunked stream keeps BOTH flat)."""
                import pyarrow as _pa

                CHUNK = 10_000
                pps: list[str] = []
                bodies: list[str] = []
                cur_pp: Optional[str] = None
                parts: list[str] = []

                def close_run():
                    if parts:
                        pps.append(cur_pp)
                        bodies.append(", ".join(parts))

                for batch in batches:
                    for row in batch.to_pylist():
                        rel = row["path"]
                        if rel.startswith(table_prefix):
                            rel = rel[len(table_prefix):]
                        pp = row["_pp"] or ""
                        if pp != cur_pp or len(parts) >= CHUNK:
                            close_run()
                            parts = []
                            cur_pp = pp
                        parts.append(
                            _stat_json(
                                rel, pp, row["record_count"], row["size"],
                                row["column_stats"],
                            )
                        )
                close_run()
                if pps:
                    yield _pa.RecordBatch.from_arrays(
                        [_pa.array(pps, type=_pa.string()),
                         _pa.array(bodies, type=_pa.string())],
                        ["pp", "body"],
                    )

            chunked = sorted_adds.select(
                "path", "_pp", "record_count", "size", "column_stats"
            ).mapInArrow(stat_chunks, "pp string, body string")
            # driver-ok: STREAMED partition-by-partition, one row per
            # ≤CHUNK-entry run — the payload goes straight to the OS
            # buffer below, never materializing whole on the driver
            for row in chunked.toLocalIterator(prefetchPartitions=True):
                yield row["pp"], row["body"]

        with open(tmp, "w") as f:
            # streaming JSON emitter: write-stats go to the OS buffer as
            # they arrive (grouped by the pre-sorted partition path); only
            # the bounded non-stats keys are json.dump'd whole
            f.write('{"partitionToWriteStats": {')
            if sorted_adds is not None:
                current_pp: str | None = None
                for pp, stat_str in _stat_pairs():
                    if pp != current_pp:
                        if current_pp is not None:
                            f.write("], ")
                        f.write(f"{json.dumps(pp)}: [")
                        current_pp = pp
                    else:
                        f.write(", ")
                    f.write(stat_str)
                if current_pp is not None:
                    f.write("]")
            f.write("}")
            for k, v in meta.items():
                f.write(f", {json.dumps(k)}: {json.dumps(v)}")
            f.write("}")
        os.replace(tmp, completed)
        # the requested/inflight markers STAY on the active timeline (real
        # Hudi keeps all three lifecycle files until archival) — deleting
        # the O_EXCL-claimed requested marker would reopen the instant to a
        # racing writer the moment this commit completes; archive_timeline
        # sweeps them with the completed instant
        if adds is not None:
            # keep the metadata-table column_stats index fresh when the
            # table advertises it (real Hudi updates the metadata table as
            # part of every commit; ours indexes the same stats we just
            # wrote into partitionToWriteStats)
            from onetable_spark.formats.hudi_metadata import HudiMetadataTable

            mdt = HudiMetadataTable(self.spark, self.table_path)
            if mdt.available():
                mdt.upsert_from_files(adds)
            if we_cached_adds:
                adds.unpersist()
        return instant

    def commit_delete_logs(
        self,
        positions: DataFrame,
        key_fields: Optional[tuple[str, ...]] = None,
    ) -> str:
        """Row-level deletes INTO Hudi as HoodieLogFormat DELETE blocks —
        the third edge of the cross-format delete triangle (Delta↔Iceberg
        are ``sync_iceberg_deletes_to_delta_dv`` /
        ``sync_delta_dvs_to_iceberg``).

        ``positions``: ``(path, pos)`` rows over this table's BASE files.
        Hudi deletes are KEY-based, not positional, so executors read each
        affected base file's record-key columns ONCE (one pyarrow
        ``take`` at the positions) and author one log file per file group
        holding a single DELETE block (type 1, content V3 — byte layout
        pinned against the reference's real Hudi-0.14 delete block). The
        deltacommit's write-stats carry ``numDeletes`` so the realtime
        view (``snapshot_files(view='realtime')``) nets exactly these
        rows, and ``verify_log_stats`` can re-derive the count from the
        bytes. A real Hudi reader merges the same blocks by key.

        Keys come from ``hoodie.table.recordkey.fields`` (populated from
        the source's identifier fields on sync); composite keys use the
        ComplexKeyGenerator ``f1:v1,f2:v2`` form, single-field keys the
        SimpleKeyGenerator bare-value form. Refuses when the table has no
        record-key fields — a DELETE block is inexpressible without keys.
        Returns the deltacommit instant.

        Reference contrast: the reference never writes (or reads) log
        files at all — a Hudi target there receives net counts only
        (HudiDataFileExtractor.java:344-363 lists base files only).

        RFC-51 (r14): on a cdc-enabled table each file group's delete
        also authors a ``-cdc`` log (op='d' records carrying the FULL
        before image of every deleted row, read at the same positions),
        advertised via cdcStats — ``cdc_feed`` then serves exact delete
        before-images instead of the key-only inference.
        """
        import pandas as _pd

        from onetable_spark.formats.hudi_log import write_delete_log_block

        key_fields = tuple(
            key_fields or self.table_descriptor().record_key_fields
        )
        if not key_fields:
            raise ValueError(
                f"{self.table_path}: no record-key fields configured "
                "(hoodie.table.recordkey.fields is empty) — Hudi DELETE "
                "log blocks identify rows by key; cannot translate "
                "position deletes into a keyless table"
            )
        instants = self.completed_instants()
        if not instants:
            raise ValueError(
                f"{self.table_path}: no completed commits — delete logs "
                "attach to existing base file groups"
            )
        commits = self._commits_df(instants)
        exploded = self._exploded_stats(commits)
        table_path = self.table_path
        table_prefix = table_path.rstrip("/") + "/"
        base = self._live_base_slices(exploded, commits).select(
            F.concat(F.lit(table_prefix), F.col("rel_path")).alias("path"),
            "file_id",
            "rel_path",
            "partition_path",
            F.col("instant").alias("base_instant"),
        )
        joined = positions.join(base, "path")
        # dangling-position guard: every deleted path must be a live base
        # file — a DELETE block for an unknown file group would dangle
        # driver-ok: two count scalars on the affected-file side
        n_files = positions.select("path").distinct().count()
        n_matched = joined.select("path").distinct().count()
        if n_matched != n_files:
            raise ValueError(
                f"{n_files - n_matched} deleted path(s) match no live "
                "base file group — positions must target this table's "
                "base files"
            )

        instant, _ = self._claim_instant("deltacommit")
        inflight = os.path.join(self.hoodie_path, f"{instant}.deltacommit.inflight")
        open(inflight, "w").close()

        kf = list(key_fields)
        # RFC-51: cdc-enabled tables also log op='d' records with the
        # FULL before image of every deleted row (read at the same
        # positions the DELETE block's keys come from)
        props = self.table_properties()
        cdc_on = props.get("hoodie.table.cdc.enabled", "false") == "true"
        cdc_mode = props.get(
            "hoodie.table.cdc.supplemental.logging.mode", "data_before_after"
        )

        def author(key, pdf: _pd.DataFrame) -> _pd.DataFrame:
            import pyarrow.parquet as pq

            path = key[0]
            row0 = pdf.iloc[0]
            file_id = row0["file_id"]
            pp = row0["partition_path"] or ""
            base_instant = row0["base_instant"]
            pos = sorted({int(p) for p in pdf["pos"]})
            keys_tbl = pq.read_table(path, columns=kf).take(pos)
            if len(kf) == 1:
                keys = [str(v) for v in keys_tbl[kf[0]].to_pylist()]
            else:
                cols = [keys_tbl[f].to_pylist() for f in kf]
                keys = [
                    ",".join(f"{f}:{v}" for f, v in zip(kf, vals))
                    for vals in zip(*cols)
                ]
            records = [
                {"recordKey": k, "partitionPath": pp, "orderingVal": None}
                for k in keys
            ]
            log_dir = os.path.dirname(path)
            version = 1
            while True:
                name = f".{file_id}_{base_instant}.log.{version}_0-0-0"
                lp = os.path.join(log_dir, name)
                if not os.path.exists(lp):
                    break
                version += 1
            write_delete_log_block(lp, records, instant, append=False)
            rel_log = lp[len(table_prefix):] if lp.startswith(table_prefix) else lp
            cdc_rel, cdc_size = None, None
            if cdc_on:
                import json as _json

                from onetable_spark.formats.hudi_log import write_cdc_log_block

                before_tbl = pq.read_table(path).take(pos).to_pandas(
                    integer_object_nulls=True
                )
                bcols = list(before_tbl.columns)
                ts_ms = str(instant_to_millis(instant))
                cdc_records = []
                for k_, vals in zip(
                    keys, zip(*[before_tbl[c] for c in bcols])
                ):
                    before = {
                        c: (v.item() if hasattr(v, "item") else v)
                        for c, v in zip(bcols, vals)
                    }
                    rec = {"op": "d"}
                    if cdc_mode == "data_before_after":
                        rec["ts_ms"] = ts_ms
                        rec["before"] = _json.dumps(before, default=str)
                        rec["after"] = None
                    else:
                        rec["record_key"] = k_
                        if cdc_mode == "data_before":
                            rec["before"] = _json.dumps(before, default=str)
                    cdc_records.append(rec)
                cp = os.path.join(
                    log_dir,
                    f".{file_id}_{base_instant}.log.{version}_0-0-0-cdc",
                )
                write_cdc_log_block(cp, cdc_records, instant, mode=cdc_mode)
                cdc_rel = (
                    cp[len(table_prefix):] if cp.startswith(table_prefix) else cp
                )
                cdc_size = os.path.getsize(cp)
            return _pd.DataFrame(
                [
                    {
                        "rel_path": rel_log,
                        "file_id": file_id,
                        "partition_path": pp,
                        "prev_commit": base_instant,
                        "num_deletes": len(records),
                        "size": os.path.getsize(lp),
                        "cdc_path": cdc_rel,
                        "cdc_size": cdc_size,
                    }
                ]
            )

        # eager localCheckpoint: authoring is SIDE-EFFECTING (the log
        # version probe makes re-execution append .log.2 orphans) — the
        # stats stream below must read ONE materialized run
        stats = (
            joined.groupBy("path")
            .applyInPandas(
                author,
                "rel_path string, file_id string, partition_path string, "
                "prev_commit string, num_deletes long, size long, "
                "cdc_path string, cdc_size long",
            )
            .localCheckpoint(eager=True)
        )

        from onetable_spark.model import iter_inventory_rows

        completed = os.path.join(self.hoodie_path, f"{instant}.deltacommit")
        tmp = completed + ".tmp"
        with open(tmp, "w") as f:
            # same streaming emitter shape as commit(): stats grouped by
            # partition path, O(batch) Python objects
            f.write('{"partitionToWriteStats": {')
            current_pp: str | None = None
            for row in iter_inventory_rows(stats.orderBy("partition_path")):
                stat = {
                    "fileId": row["file_id"],
                    "path": row["rel_path"],
                    "prevCommit": row["prev_commit"],
                    "numWrites": 0,
                    "numInserts": 0,
                    "numDeletes": row["num_deletes"],
                    "numUpdateWrites": 0,
                    "totalWriteBytes": row["size"],
                    "fileSizeInBytes": row["size"],
                    "partitionPath": row["partition_path"],
                    "columnStats": None,
                }
                if row["cdc_path"]:
                    stat["cdcStats"] = {row["cdc_path"]: row["cdc_size"]}
                pp = row["partition_path"] or ""
                if pp != current_pp:
                    if current_pp is not None:
                        f.write("], ")
                    f.write(f"{json.dumps(pp)}: [")
                    current_pp = pp
                else:
                    f.write(", ")
                f.write(json.dumps(stat))
            if current_pp is not None:
                f.write("]")
            f.write("}")
            meta = {
                "compacted": False,
                "operationType": "DELETE",
                "extraMetadata": {},
            }
            for k, v in meta.items():
                f.write(f", {json.dumps(k)}: {json.dumps(v)}")
            f.write("}")
        os.replace(tmp, completed)
        return instant

    def upsert_records(self, df: DataFrame) -> str:
        """Hudi MOR KEYED UPSERT (r12) — the third format's edge of the
        upsert triangle (Delta: ``upsert_by_key`` via deletion vectors;
        Iceberg: ``commit_upsert`` via equality deletes). Incoming
        records are TAGGED against the live base files by record key
        (executors read each base file's key columns once — the same
        read real Hudi's SimpleIndex does): records whose key already
        lives somewhere become ONE AVRO_DATA log block on that file
        group (byte layout the real MOR reader and
        ``compact_file_groups`` merge by key; the realtime view's
        updates-net-zero arithmetic holds because the stat carries
        numUpdateWrites, not numInserts); records with NEW keys land in
        a fresh base parquet — a new file group. One deltacommit carries
        both. Source keys are assumed unique per batch (real Hudi
        precombines; we document rather than dedupe).

        Partitioned tables (r12): inserts derive their hive partition
        path from the table's partition fields (one Spark partitionBy
        write, each emitted file its own file group in its partition
        dir). Key tagging is GLOBAL-index semantics: an update lands in
        the file group that currently holds its key even if the batch
        row's partition value changed — real Hudi's GLOBAL_SIMPLE
        behavior (the default partition-scoped index would instead
        duplicate the key across partitions). Keyless tables refuse —
        upserts are inexpressible without record keys. Returns the
        deltacommit instant."""
        import pandas as _pd

        from onetable_spark.formats.avro_schema import structtype_to_avro
        from onetable_spark.formats.hudi_log import (
            encode_logical,
            logical_fields,
            write_avro_log_block,
        )

        desc = self.table_descriptor()
        kf = list(desc.record_key_fields)
        if not kf:
            raise ValueError(
                f"{self.table_path}: no record-key fields configured — "
                "keyed upserts are inexpressible on a keyless table"
            )
        pfs = list(desc.partition_fields)
        cols = [f.name for f in desc.read_schema.fields]
        df = df.select(*cols)
        avro_schema = structtype_to_avro(desc.read_schema, name="record")
        # date / timestamp columns reach the log writer as Python values;
        # the Avro datum carries them as epoch ints
        logical = logical_fields(avro_schema)
        session_tz = (
            df.sparkSession.conf.get("spark.sql.session.timeZone") if logical else None
        )

        def key_expr(frame: DataFrame) -> DataFrame:
            if len(kf) == 1:
                k = F.col(kf[0]).cast("string")
            else:
                k = F.concat_ws(
                    ",", *[F.concat_ws(":", F.lit(f_), F.col(f_).cast("string"))
                           for f_ in kf]
                )
            return frame.withColumn("_key", k)

        table_path = self.table_path
        table_prefix = table_path.rstrip("/") + "/"
        instants = self.completed_instants()
        keyed = key_expr(df)
        if instants:
            commits = self._commits_df(instants)
            base = self._live_base_slices(
                self._exploded_stats(commits), commits
            ).select(
                F.concat(F.lit(table_prefix), F.col("rel_path")).alias("path"),
                "file_id",
                "partition_path",
                F.col("instant").alias("base_instant"),
            )

            def read_base_keys(batches):
                import pyarrow.parquet as _pq

                for pdf in batches:
                    frames = []
                    for p, fid, pp, bi in zip(
                        pdf["path"], pdf["file_id"],
                        pdf["partition_path"], pdf["base_instant"],
                    ):
                        t = _pq.read_table(p, columns=kf).to_pandas(
                            integer_object_nulls=True
                        )
                        if len(kf) == 1:
                            keys = t[kf[0]].astype(str)
                        else:
                            keys = t[kf[0]].astype(str).radd(f"{kf[0]}:")
                            for f_ in kf[1:]:
                                keys = keys + "," + t[f_].astype(str).radd(f"{f_}:")
                        frames.append(
                            _pd.DataFrame(
                                {"_key": keys, "path": p, "file_id": fid,
                                 "partition_path": pp or "",
                                 "base_instant": bi}
                            )
                        )
                    yield (
                        _pd.concat(frames)
                        if frames
                        else _pd.DataFrame(
                            columns=["_key", "path", "file_id",
                                     "partition_path", "base_instant"]
                        )
                    )

            base_keys = base.mapInPandas(
                read_base_keys,
                "_key string, path string, file_id string, "
                "partition_path string, base_instant string",
            )
            updates = keyed.join(base_keys, "_key")
            inserts = keyed.join(base_keys.select("_key"), "_key", "left_anti")
        else:
            updates = None
            inserts = keyed

        instant, _ = self._claim_instant("deltacommit")
        inflight = os.path.join(
            self.hoodie_path, f"{instant}.deltacommit.inflight"
        )
        open(inflight, "w").close()

        # RFC-51 supplemental cdc logging: when the table enables
        # hoodie.table.cdc.enabled, every UPDATED file group also gets a
        # ``-cdc`` log file whose CDC_DATA block carries op='u' records
        # with BEFORE and after images as JSON strings (HoodieCDCUtils'
        # data_before_after schema; op_key_only/data_before honored).
        # New-file-group inserts author no cdc file — real Hudi's
        # BASE_FILE_INSERT inference derives them at read (cdc_feed).
        props = self.table_properties()
        cdc_on = props.get("hoodie.table.cdc.enabled", "false") == "true"
        cdc_mode = props.get(
            "hoodie.table.cdc.supplemental.logging.mode", "data_before_after"
        )
        stat_rows: list[dict] = []
        if updates is not None:

            def author(key, pdf: _pd.DataFrame) -> _pd.DataFrame:
                path = key[0]
                row0 = pdf.iloc[0]
                records = [
                    {
                        c: (v.item() if hasattr(v, "item") else v)
                        for c, v in zip(cols, vals)
                    }
                    for vals in zip(*[pdf[c] for c in cols])
                ]
                log_dir = os.path.dirname(path)
                file_id = row0["file_id"]
                base_instant = row0["base_instant"]
                version = 1
                while True:
                    name = f".{file_id}_{base_instant}.log.{version}_0-0-0"
                    lp = os.path.join(log_dir, name)
                    if not os.path.exists(lp):
                        break
                    version += 1
                datums = (
                    [encode_logical(r, logical, session_tz) for r in records]
                    if logical
                    else records
                )
                write_avro_log_block(
                    lp, datums, avro_schema, instant, append=False
                )
                rel_log = (
                    lp[len(table_prefix):] if lp.startswith(table_prefix) else lp
                )
                cdc_rel, cdc_size = None, None
                if cdc_on:
                    import json as _json

                    import pyarrow.parquet as _pq

                    from onetable_spark.formats.hudi_log import (
                        write_cdc_log_block,
                    )

                    # BEFORE images: the matched keys' current rows in
                    # this file group's base parquet (one columnar read
                    # per touched group, executor-side)
                    t = _pq.read_table(path).to_pandas(
                        integer_object_nulls=True
                    )
                    if len(kf) == 1:
                        bkeys = t[kf[0]].astype(str)
                    else:
                        bkeys = t[kf[0]].astype(str).radd(f"{kf[0]}:")
                        for f_ in kf[1:]:
                            bkeys = bkeys + "," + t[f_].astype(str).radd(f"{f_}:")
                    before_by_key = {}
                    for k_, vals in zip(bkeys, zip(*[t[c] for c in cols])):
                        before_by_key[k_] = {
                            c: (v.item() if hasattr(v, "item") else v)
                            for c, v in zip(cols, vals)
                        }
                    ts_ms = str(instant_to_millis(instant))
                    cdc_records = []
                    for k_, after in zip(pdf["_key"], records):
                        rec = {"op": "u"}
                        if cdc_mode == "data_before_after":
                            rec["ts_ms"] = ts_ms
                            rec["before"] = _json.dumps(
                                before_by_key.get(k_), default=str
                            )
                            rec["after"] = _json.dumps(after, default=str)
                        else:
                            rec["record_key"] = k_
                            if cdc_mode == "data_before":
                                rec["before"] = _json.dumps(
                                    before_by_key.get(k_), default=str
                                )
                        cdc_records.append(rec)
                    cp = os.path.join(
                        log_dir,
                        f".{file_id}_{base_instant}.log.{version}_0-0-0-cdc",
                    )
                    write_cdc_log_block(cp, cdc_records, instant, mode=cdc_mode)
                    cdc_rel = (
                        cp[len(table_prefix):]
                        if cp.startswith(table_prefix)
                        else cp
                    )
                    cdc_size = os.path.getsize(cp)
                return _pd.DataFrame(
                    [
                        {
                            "rel_path": rel_log,
                            "file_id": file_id,
                            "partition_path": row0["partition_path"] or "",
                            "prev_commit": base_instant,
                            "num_updates": len(records),
                            "size": os.path.getsize(lp),
                            "cdc_path": cdc_rel,
                            "cdc_size": cdc_size,
                        }
                    ]
                )

            # eager localCheckpoint: block authoring is SIDE-EFFECTING (the
            # log version probe makes re-execution append .log.2 orphans)
            upd_stats = (
                updates.groupBy("path")
                .applyInPandas(
                    author,
                    "rel_path string, file_id string, partition_path string, "
                    "prev_commit string, num_updates long, size long, "
                    "cdc_path string, cdc_size long",
                )
                .localCheckpoint(eager=True)
            )
            # driver-ok: one row per AFFECTED file group (commit payload)
            for row in upd_stats.collect():
                stat_rows.append(
                    {
                        "fileId": row["file_id"],
                        "path": row["rel_path"],
                        "prevCommit": row["prev_commit"],
                        "numWrites": row["num_updates"],
                        "numInserts": 0,
                        "numDeletes": 0,
                        "numUpdateWrites": row["num_updates"],
                        "totalWriteBytes": row["size"],
                        "fileSizeInBytes": row["size"],
                        "partitionPath": row["partition_path"],
                        "columnStats": None,
                        **(
                            {"cdcStats": {row["cdc_path"]: row["cdc_size"]}}
                            if row["cdc_path"]
                            else {}
                        ),
                    }
                )

        # driver-ok: emptiness probe, one boolean
        if not inserts.isEmpty():
            import shutil as _shutil

            import pyarrow.parquet as _pq

            from onetable_spark.schema.partitions import transform_column

            scratch = os.path.join(
                table_path, f"_upsert_{uuid.uuid4().hex[:12]}"
            )
            ins = inserts.select(*cols)
            pcols = []
            for pf in pfs:
                # __pp_-prefixed duplicates: partitionBy consumes its
                # column, and Hudi data files keep the ORIGINAL field
                ins = ins.withColumn(
                    f"__pp_{pf.name}", transform_column(pf).cast("string")
                )
                pcols.append(f"__pp_{pf.name}")
            if pcols:
                ins.write.partitionBy(*pcols).parquet(scratch)
            else:
                ins.coalesce(1).write.parquet(scratch)
            # each emitted file becomes its own file group in its hive
            # partition dir (walk is O(touched partitions) — the commit
            # payload, not the table)
            for root_, _dirs, files_ in os.walk(scratch):
                segs = [
                    s for s in os.path.relpath(root_, scratch).split(os.sep)
                    if "=" in s
                ]
                pp = "/".join(s.replace("__pp_", "", 1) for s in segs)
                for fname in files_:
                    if not fname.endswith(".parquet"):
                        continue
                    d = os.path.join(table_path, pp) if pp else table_path
                    os.makedirs(d, exist_ok=True)
                    new_name = f"{uuid.uuid4().hex[:8]}-0_0-0-0_{instant}.parquet"
                    new_abs = os.path.join(d, new_name)
                    os.replace(os.path.join(root_, fname), new_abs)
                    rel = f"{pp}/{new_name}" if pp else new_name
                    n_ins = _pq.read_metadata(new_abs).num_rows
                    stat_rows.append(
                        {
                            "fileId": _file_id_for(rel),
                            "path": rel,
                            "prevCommit": "null",
                            "numWrites": n_ins,
                            "numInserts": n_ins,
                            "numDeletes": 0,
                            "numUpdateWrites": 0,
                            "totalWriteBytes": os.path.getsize(new_abs),
                            "fileSizeInBytes": os.path.getsize(new_abs),
                            "partitionPath": pp,
                            "columnStats": None,
                        }
                    )
            _shutil.rmtree(scratch, ignore_errors=True)

        completed = os.path.join(self.hoodie_path, f"{instant}.deltacommit")
        tmp = completed + ".tmp"
        by_pp: dict[str, list[dict]] = {}
        for s in stat_rows:
            by_pp.setdefault(s["partitionPath"] or "", []).append(s)
        with open(tmp, "w") as f:
            json.dump(
                {
                    "partitionToWriteStats": by_pp,
                    "compacted": False,
                    "operationType": "UPSERT",
                    "extraMetadata": {},
                },
                f,
            )
        os.replace(tmp, completed)
        return instant

    def compact_file_groups(self) -> Optional[str]:
        """MOR COMPACTION (r12): merge every file group's unmerged log
        blocks into a NEW base parquet — the data-plane materialization
        that closes the realtime-view gap. After this, base files alone
        carry the merged rows, the default view reads clean (no unmerged
        logs), and a Delta/Iceberg target synced from them is honest at
        the ROW level, not just in netted counts.

        Semantics per file group, blocks applied in instant order:
        AVRO_DATA records UPSERT by record key (insert new keys, replace
        existing — matching the realtime view's inserts-net/updates-zero
        arithmetic) or plain-append on a keyless table; DELETE blocks
        drop rows by record key; HFILE/PARQUET blocks refuse (no byte
        decoder — never silently drop rows). The new base file keeps its
        file group's id (``{fileId}_0-0-0_{instant}.parquet``, HoodieBase
        file naming) so the timeline window supersedes the old slice and
        time travel still sees it. Work is distributed one file group per
        task (applyInPandas) — the same parallelism real compaction gets.

        Returns the compaction commit instant, or None when nothing needs
        merging. Reference contrast: the reference has no compaction (or
        any log plane); it would keep reading the stale base files
        (HudiDataFileExtractor.java:157)."""
        import pandas as _pd

        instants = self.completed_instants()
        if not instants:
            return None
        commits = self._commits_df(instants)
        exploded = self._exploded_stats(commits)
        live = self._live_base_slices(exploded, commits)
        logs = exploded.filter(F.col("ws.path").contains(".log.")).select(
            F.col("instant").alias("log_instant"),
            F.col("ws.fileId").alias("file_id"),
            F.col("ws.path").alias("log_rel"),
        )
        base_keys = live.select(
            "file_id",
            F.col("instant").alias("base_instant"),
            "rel_path",
            "partition_path",
        )
        # driver-ok: emptiness probe, one boolean
        if not logs.join(
            base_keys.select("file_id"), "file_id", "left_anti"
        ).isEmpty():
            raise ValueError(
                f"{self.table_path}: MOR file group holds ONLY log files "
                "(no base file to merge into); cannot compact"
            )
        unmerged = logs.join(base_keys, "file_id").where(
            F.col("log_instant") > F.col("base_instant")
        )
        # driver-ok: emptiness probe, one boolean
        if unmerged.isEmpty():
            return None

        key_fields = tuple(self.table_descriptor().record_key_fields)
        kf = list(key_fields)
        table_prefix = self.table_path.rstrip("/") + "/"
        instant, _ = self._claim_instant("commit")
        inflight = os.path.join(self.hoodie_path, f"{instant}.inflight")
        open(inflight, "w").close()

        def merge(key, pdf: _pd.DataFrame) -> _pd.DataFrame:
            import pyarrow as pa
            import pyarrow.parquet as pq

            from onetable_spark.formats.hudi_log import (
                avro_block_records,
                delete_block_records,
                read_log_blocks,
            )

            file_id = key[0]
            row0 = pdf.iloc[0]
            base_rel = row0["rel_path"]
            pp = row0["partition_path"] or ""
            base_abs = table_prefix + base_rel
            base_tbl = pq.read_table(base_abs)
            cols = list(base_tbl.schema.names)
            df = base_tbl.to_pandas(integer_object_nulls=True)

            def key_series(frame: _pd.DataFrame) -> _pd.Series:
                if len(kf) == 1:
                    return frame[kf[0]].astype(str)
                s = frame[kf[0]].astype(str).radd(f"{kf[0]}:")
                for f_ in kf[1:]:
                    s = s + "," + frame[f_].astype(str).radd(f"{f_}:")
                return s

            ordered = pdf.sort_values("log_instant")
            for log_rel in ordered["log_rel"]:
                for block in read_log_blocks(table_prefix + log_rel):
                    btype = block["type"]
                    if btype == "avro_data":
                        _, recs = avro_block_records(block, decode=True)
                        rec_df = _pd.DataFrame(
                            [{c: r.get(c) for c in cols} for r in recs],
                            columns=cols,
                        )
                        if kf and not rec_df.empty:
                            # upsert: replace existing keys, append new
                            df = df[~key_series(df).isin(set(key_series(rec_df)))]
                        df = _pd.concat([df, rec_df], ignore_index=True)
                    elif btype == "delete":
                        if not kf:
                            raise ValueError(
                                f"{log_rel}: DELETE block on a keyless "
                                "table — rows are unidentifiable"
                            )
                        _, recs = delete_block_records(block)
                        dead = {r["recordKey"] for r in recs}
                        df = df[~key_series(df).isin(dead)]
                    elif btype in ("command", "corrupt"):
                        continue
                    else:
                        raise ValueError(
                            f"{log_rel}: cannot compact a {btype} block — "
                            "no byte decoder; refusing rather than "
                            "dropping its rows"
                        )
            new_name = f"{file_id}_0-0-0_{instant}.parquet"
            rel_dir = os.path.dirname(base_rel)
            new_rel = f"{rel_dir}/{new_name}" if rel_dir else new_name
            out = table_prefix + new_rel
            pq.write_table(
                pa.Table.from_pandas(
                    df[cols], schema=base_tbl.schema, preserve_index=False
                ),
                out,
            )
            return _pd.DataFrame(
                [
                    {
                        "rel_path": new_rel,
                        "file_id": file_id,
                        "partition_path": pp,
                        "prev_commit": row0["base_instant"],
                        "num_writes": len(df),
                        "size": os.path.getsize(out),
                    }
                ]
            )

        # eager localCheckpoint: the merge WRITES the new base files — the
        # stats stream below must read one materialized run
        stats = (
            unmerged.groupBy("file_id")
            .applyInPandas(
                merge,
                "rel_path string, file_id string, partition_path string, "
                "prev_commit string, num_writes long, size long",
            )
            .localCheckpoint(eager=True)
        )

        from onetable_spark.model import iter_inventory_rows

        completed = os.path.join(self.hoodie_path, f"{instant}.commit")
        tmp = completed + ".tmp"
        with open(tmp, "w") as f:
            f.write('{"partitionToWriteStats": {')
            current_pp: str | None = None
            for row in iter_inventory_rows(stats.orderBy("partition_path")):
                stat = {
                    "fileId": row["file_id"],
                    "path": row["rel_path"],
                    "prevCommit": row["prev_commit"],
                    "numWrites": row["num_writes"],
                    "numInserts": 0,
                    "numDeletes": 0,
                    "numUpdateWrites": 0,
                    "totalWriteBytes": row["size"],
                    "fileSizeInBytes": row["size"],
                    "partitionPath": row["partition_path"],
                    "columnStats": None,
                }
                pp = row["partition_path"] or ""
                if pp != current_pp:
                    if current_pp is not None:
                        f.write("], ")
                    f.write(f"{json.dumps(pp)}: [")
                    current_pp = pp
                else:
                    f.write(", ")
                f.write(json.dumps(stat))
            if current_pp is not None:
                f.write("]")
            f.write("}")
            meta = {
                "compacted": True,
                "operationType": "COMPACT",
                "extraMetadata": {},
            }
            for k, v in meta.items():
                f.write(f", {json.dumps(k)}: {json.dumps(v)}")
            f.write("}")
        os.replace(tmp, completed)
        return instant

    def rollback(self, instant: str) -> str:
        """Roll back a completed commit (HudiClient ROLLBACK handling)."""
        rb_instant = self.new_instant()
        with open(os.path.join(self.hoodie_path, f"{rb_instant}.rollback"), "w") as f:
            json.dump({"commitsRollback": [instant]}, f)
        return rb_instant

    def restore(self, to_instant: str) -> str:
        """RESTORE: undo every commit after ``to_instant`` in one timeline
        event (HoodieRestoreMetadata embeds per-commit rollback payloads —
        HudiDataFileExtractor.java:221-243 surfaces their deleted files)."""
        undone = [i for i, _ in self.completed_instants() if i > to_instant]
        rs_instant = self.new_instant()
        with open(os.path.join(self.hoodie_path, f"{rs_instant}.restore"), "w") as f:
            json.dump({"instantsToRollback": undone, "restoreInstant": to_instant}, f)
        return rs_instant

    def clean(self, earliest_instant_to_retain: str) -> Optional[str]:
        """K10: clean file groups replaced before the retention horizon
        (HudiTargetClient.markInstantsAsCleaned, HudiTargetClient.java:
        414-546). A file group replaced by a replacecommit OLDER than the
        earliest instant any retained reader could time-travel to can never
        be served again — mark it cleaned through the clean.requested →
        clean.inflight → clean instant lifecycle.

        Physical data files are NOT deleted: in sync context they belong to
        the source table (the reference likewise only marks them deleted in
        the metadata plane). Returns the clean instant, or None when there
        is nothing to clean."""
        instants = self.completed_instants()
        horizon = [
            (i, a)
            for i, a in instants
            if a == "replacecommit" and i < earliest_instant_to_retain
        ]
        if not horizon:
            return None
        commits = self._commits_df(instants)
        replaced = (
            self._commits_df(horizon)
            .select(
                F.col("instant").alias("replace_instant"),
                F.explode_outer("partitionToReplaceFileIds").alias("partition", "file_ids"),
            )
            .select("replace_instant", "partition", F.explode("file_ids").alias("file_id"))
        )
        adds = (
            commits.select(
                "instant", F.explode_outer("partitionToWriteStats").alias("partition", "stats")
            )
            .select("instant", F.explode("stats").alias("ws"))
            .select(
                "instant",
                F.col("ws.fileId").alias("file_id"),
                F.col("ws.path").alias("rel_path"),
            )
        )
        # slices of the replaced groups written at-or-before the replacement
        # (CleanPlanner.getDeletePaths per partition); aggregated per
        # partition — the driver holds one row per partition, the same
        # payload the plan JSON must contain anyway
        per_partition = (
            adds.join(
                F.broadcast(replaced),
                (adds.file_id == replaced.file_id)
                & (adds.instant <= replaced.replace_instant),
            )
            .groupBy("partition")
            .agg(F.sort_array(F.collect_set("rel_path")).alias("paths"))
            .collect()
        )
        if not per_partition:
            return None
        clean_time = self.new_instant()
        plan = {
            "earliestInstantToRetain": earliest_instant_to_retain,
            "policy": "KEEP_LATEST_BY_HOURS",
            "lastCompletedCommitTimestamp": instants[-1][0],
            "filePathsToBeDeletedPerPartition": {
                r["partition"]: list(r["paths"]) for r in per_partition
            },
        }
        req = os.path.join(self.hoodie_path, f"{clean_time}.clean.requested")
        with open(req, "w") as f:
            json.dump(plan, f)
        inflight = os.path.join(self.hoodie_path, f"{clean_time}.clean.inflight")
        open(inflight, "w").close()
        meta = {
            "startCleanTime": clean_time,
            "earliestCommitToRetain": earliest_instant_to_retain,
            "totalFilesDeleted": sum(len(r["paths"]) for r in per_partition),
            "partitionMetadata": {
                r["partition"]: {
                    "successDeleteFiles": list(r["paths"]),
                    "deletePathPatterns": list(r["paths"]),
                    "failedDeleteFiles": [],
                }
                for r in per_partition
            },
        }
        completed = os.path.join(self.hoodie_path, f"{clean_time}.clean")
        tmp = completed + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, completed)
        os.remove(req)
        os.remove(inflight)
        return clean_time

    def cleaned_paths(self) -> set[str]:
        """Relative paths marked deleted by completed clean instants."""
        out: set[str] = set()
        for f in os.listdir(self.hoodie_path):
            parts = f.split(".")
            if len(parts) == 2 and parts[1] == "clean":
                with open(os.path.join(self.hoodie_path, f)) as fh:
                    meta = json.load(fh)
                for pm in meta.get("partitionMetadata", {}).values():
                    out.update(pm.get("successDeleteFiles", []))
        return out

    def archive_timeline(self, keep_latest: int = 10) -> int:
        """Move old completed instants to ``archived/`` — timeline bounded
        like HoodieTimelineArchiver (HudiTargetClient.java:414-546)."""
        instants = self.completed_instants()
        to_archive = instants[:-keep_latest] if len(instants) > keep_latest else []
        for i, a in to_archive:
            src = os.path.join(self.hoodie_path, f"{i}.{a}")
            os.replace(src, os.path.join(self.hoodie_path, "archived", f"{i}.{a}"))
            # sweep the instant's lifecycle markers with it
            for marker in (
                f"{i}.{a}.requested",
                f"{i}.{a}.inflight",
                f"{i}.inflight",
            ):
                mp = os.path.join(self.hoodie_path, marker)
                if os.path.exists(mp):
                    os.remove(mp)
        return len(to_archive)


def record_key_to_dict(record_key, key_fields: list[str]) -> dict:
    """One HoodieKey recordKey string back into per-field values: a
    single-field key is the bare value (SimpleKeyGenerator), a composite
    key the ComplexKeyGenerator ``f1:v1,f2:v2`` form (the exact form
    ``commit_delete_logs``/``upsert_records`` author). Unparseable
    segments of a composite key are dropped — the generator's own form
    is lossy for values containing ``,``/``:``, exactly as in real
    Hudi."""
    if not key_fields:
        return {}
    if len(key_fields) == 1:
        return {key_fields[0]: record_key}
    parts: dict = {}
    for seg in str(record_key).split(","):
        if ":" in seg:
            f, v = seg.split(":", 1)
            if f in key_fields:
                parts[f] = v
    return {f: parts.get(f) for f in key_fields}


def delete_key_frame(dkeys, field_names: list[str], key_fields: list[str],
                     numeric_key_fields: set[str]):
    """Full-width pandas frame of 'd' rows for the given recordKey
    strings: key columns re-typed (HoodieKey keys are STRINGS — integer
    key fields cast back), every other column null. Composite keys
    split into ALL their fields (r15 — before, only ``key_fields[0]``
    was stamped and a composite-key table's delete rows lost the
    remaining parts)."""
    import pandas as _pd

    dd = _pd.DataFrame(
        {field_names[0]: [None] * len(dkeys)}
    ).reindex(columns=field_names)
    if not key_fields or not len(dkeys):
        return dd
    if len(key_fields) == 1:
        cols = {key_fields[0]: list(dkeys)}
    else:
        cols = {f: [] for f in key_fields}
        for k in dkeys:
            d = record_key_to_dict(k, key_fields)
            for f in key_fields:
                cols[f].append(d[f])
    for f in key_fields:
        s = _pd.Series(cols[f], dtype=object)
        if f in numeric_key_fields:
            s = _pd.to_numeric(s)
        dd[f] = s
    return dd


def _numeric_key_fields(schema: T.StructType, key_fields) -> set[str]:
    """Key fields whose declared type is integral (their recordKey
    strings cast back through ``pd.to_numeric``)."""
    types = {f.name: f.dataType for f in schema.fields}
    return {
        f
        for f in key_fields
        if isinstance(
            types.get(f), (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        )
    }


def read_optimized_states_before(
    table_path: str, instants: list[str]
) -> dict[str, list[str]]:
    """PURE-PYTHON replay of the read-optimized view at MANY cutoffs in
    ONE forward walk: for each requested instant, the rel_paths of live
    base parquet files strictly BEFORE it — the latest base slice per
    file group, minus groups replaced at a later-or-equal replacecommit,
    with rollback/restore undo applied incrementally. Mirrors
    ``HudiTimeline.snapshot_files_before(view='read_optimized')``
    (``_live_base_slices``) without a SparkSession, so a STREAMING task
    can resolve replacecommit victims from the timeline's own tiny JSON
    files (metadata only; no data file is read). Serving all of a
    batch's R replacecommits from one walk keeps the planning task
    O(timeline + R·groups) instead of O(R·timeline) on a
    clustering-heavy backfill."""
    hoodie = os.path.join(table_path, ".hoodie")
    events = []
    for f in os.listdir(hoodie):
        parts = f.split(".")
        if len(parts) == 2 and parts[1] in COMMIT_ACTIONS + UNDO_ACTIONS:
            events.append((parts[0], parts[1]))
    events.sort()
    cutoffs = sorted(set(instants))
    out: dict[str, list[str]] = {}
    # adds[fid] = {instant: rel}; repl[fid] = {replace instants} —
    # keyed per instant so a rollback can surgically remove one
    # commit's contributions mid-walk
    adds: dict[str, dict[str, str]] = {}
    repl: dict[str, set[str]] = {}

    def snapshot() -> list[str]:
        live = []
        for fid, slices in adds.items():
            if not slices:
                continue
            i_star = max(slices)
            if any(r >= i_star for r in repl.get(fid, ())):
                continue
            live.append(slices[i_star])
        return sorted(live)

    ci = 0

    def flush_until(boundary: Optional[str]) -> None:
        nonlocal ci
        while ci < len(cutoffs) and (
            boundary is None or cutoffs[ci] <= boundary
        ):
            out[cutoffs[ci]] = snapshot()
            ci += 1

    for i, a in events:
        flush_until(i)  # cutoffs are STRICTLY-before: emit state first
        with open(os.path.join(hoodie, f"{i}.{a}")) as fh:
            meta = json.load(fh)
        if a in UNDO_ACTIONS:
            undone = set(meta.get("commitsRollback") or []) | set(
                meta.get("instantsToRollback") or []
            )
            for slices in adds.values():
                for u in undone:
                    slices.pop(u, None)
            for rset in repl.values():
                rset -= undone
            continue
        for stats in (meta.get("partitionToWriteStats") or {}).values():
            for s in stats or []:
                rel = s.get("path")
                if not rel or ".log." in rel:
                    continue
                fid = s.get("fileId") or _file_id_for(rel)
                adds.setdefault(fid, {})[i] = rel
        for ids in (meta.get("partitionToReplaceFileIds") or {}).values():
            for fid in ids or []:
                repl.setdefault(fid, set()).add(i)
    flush_until(None)
    return out


def read_optimized_files_before(table_path: str, instant: str) -> list[str]:
    """Single-cutoff form of ``read_optimized_states_before``."""
    return read_optimized_states_before(table_path, [instant])[instant]


def _file_id_for(rel_path: str) -> str:
    """Stable fileId per registered external file (BaseFileUpdatesExtractor
    maps each external file to its own file group). Log files carry their
    FILE GROUP's id in the name (``.{fileId}_{writeToken}.log.{version}``,
    HoodieLogFile naming) — extracting it keeps a log append attached to
    its base file so the realtime view can net the counts (r11)."""
    import re as _re

    name = rel_path.rsplit("/", 1)[-1]
    m = _re.match(r"^\.(.+?)_[\w\-]+\.log\.\d+", name)
    if m:
        return m.group(1)
    return uuid.uuid5(uuid.NAMESPACE_URL, rel_path).hex
