"""The sync planner/executor — OneTableClient re-expressed for Spark.

Orchestrates: bind source → read per-target watermarks → plan FULL vs
INCREMENTAL per target (with safety fallback) → execute, reusing ONE
source extraction across all targets (the files DataFrame is persisted,
the reference reuses one extracted snapshot the same way,
core/.../client/OneTableClient.java:113-121).

Reference parity map:
- mode planning + fallback        OneTableClient.java:149-173,220-246
- snapshot path                   OneTableClient.java:175-181, TableFormatSync.java:61-84
- incremental path + commit loop  OneTableClient.java:183-209, TableFormatSync.java:93-133
- per-target commit pruning       TableFormatSync.java:135-144
- lifecycle per commit            TableFormatSync.java:146-174
  (begin → schema → partition spec → files → metadata → complete; here each
  target's ``sync_snapshot``/``sync_change`` performs the whole lifecycle as
  one atomic format commit — Delta JSON commit / Hudi timeline instant /
  Iceberg metadata swap)
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Iterator, Optional, Protocol

from pyspark.sql import SparkSession
from pyspark.storagelevel import StorageLevel

from onetable_spark.formats.delta import DeltaLog
from onetable_spark.formats.hudi import HudiTimeline, instant_to_millis, millis_to_instant
from onetable_spark.formats.iceberg import IcebergTable
from onetable_spark.model import (
    FilesDiff,
    PartitionTransform,
    Snapshot,
    SyncMode,
    SyncResult,
    SyncStatus,
    Table,
    TableChange,
    TableFormat,
    TableMetadata,
)
from onetable_spark.operators import files_diff
from onetable_spark.schema.evolution import diff_schemas
from onetable_spark.sources.parquet_inventory import inventory_from_directory


def _schema_evolved(current, incoming) -> bool:
    """True when the incoming schema differs from the target's current one;
    raises ValueError for ILLEGAL evolutions (type narrowing, tightened
    nullability, map-key changes) before anything is committed — the K6
    legality gate (IcebergSchemaSync.java:46-154) applied to every target
    format's syncSchema step."""
    if current is None or current == incoming:
        return False
    diff_schemas(current, incoming)
    return True


class SourceClient(Protocol):
    """SPI: api/.../spi/extractor/SourceClient.java:33-88"""

    def current_snapshot(self) -> Snapshot: ...

    def changes_since(self, millis: int, pending: tuple[int, ...]) -> Iterator[TableChange]: ...

    def is_incremental_sync_safe_from(self, millis: int) -> bool: ...

    def inflight_instants(self, millis: int, pending: tuple[int, ...]) -> tuple[int, ...]:
        """Source commits started but not yet completed as of this sync —
        carried in every target's sync metadata so an instant that completes
        *after* the watermark advances past it is still picked up next time
        (CommitsBacklog.inFlightInstants, HudiClient.java:128-149)."""
        ...


class TargetClient(Protocol):
    """SPI: api/.../spi/sync/TargetClient.java:35-93"""

    table_format: TableFormat

    def get_sync_metadata(self) -> Optional[TableMetadata]: ...

    def sync_snapshot(self, snapshot: Snapshot, metadata: TableMetadata) -> None: ...

    def sync_change(self, change: TableChange, metadata: TableMetadata) -> None: ...


# ------------------------------------------------------------------- sources


class ParquetSource:
    """A plain parquet directory as a source 'table' (snapshot-only).

    ``partition_cols`` names the directory levels for partitioned layouts
    — hive-style ``col=value`` or DIR_HIERARCHY bare ``value`` dirs (the
    reference's HudiPartitionValuesExtractor.java:47-171 handles both
    through one loop; so does ``partition_values_from_path``). Bare-dir
    tables cannot self-describe, so the caller must name the levels."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        name: str = "",
        schema=None,
        partition_cols: list[str] | None = None,
        layout: "DataLayoutStrategy | None" = None,
    ):
        self.spark = spark
        self.path = path
        self.name = name or path.rstrip("/").rsplit("/", 1)[-1]
        self._schema = schema
        self.partition_cols = list(partition_cols or [])
        self._layout = layout

    def current_snapshot(self) -> Snapshot:
        from onetable_spark.model import DataLayoutStrategy, PartitionField

        from pyspark.sql import functions as F

        # persist before the watermark probe: the same files DataFrame is
        # reused by every target's sync, so the footer scan runs once
        files = inventory_from_directory(
            self.spark, self.path, partition_cols=self.partition_cols or None
        )
        files.persist(StorageLevel.MEMORY_AND_DISK)
        if self._schema is not None:
            schema = self._schema
        elif self.partition_cols:
            # bare value dirs defeat Spark's partition discovery; read one
            # file's schema and treat partition levels as string columns
            first = files.select("path").first()
            schema = self.spark.read.parquet(first["path"]).schema if first else None
        else:
            schema = self.spark.read.parquet(self.path).schema
        # the "commit instant" of a plain parquet directory is the newest
        # file's mtime — deterministic for an unchanged directory, so two
        # syncs over the same data record the same watermark (a wall-clock
        # stamp made every re-sync look like new data)
        newest = files.agg(F.max("last_modified_millis").alias("m")).first()["m"]
        if self.partition_cols:
            layout = self._layout or DataLayoutStrategy.DIR_HIERARCHY_PARTITION_VALUES
            pfields = tuple(PartitionField(c) for c in self.partition_cols)
            # partition values live only in the directory names — surface
            # the partition columns in the logical schema (string-typed,
            # like the IR keeps all path-derived values)
            from pyspark.sql import types as T

            have = {f.name for f in schema.fields} if schema else set()
            if schema is not None:
                for c in self.partition_cols:
                    if c not in have:
                        schema = schema.add(T.StructField(c, T.StringType(), True))
        else:
            layout = self._layout or DataLayoutStrategy.FLAT
            pfields = ()
        table = Table(
            name=self.name,
            base_path=self.path,
            table_format=TableFormat.PARQUET,
            read_schema=schema,
            layout=layout,
            partition_fields=pfields,
            latest_commit_millis=int(newest or 0),
        )
        return Snapshot(table=table, files=files)

    def changes_since(self, millis: int, pending: tuple[int, ...]) -> Iterator[TableChange]:
        return iter(())  # snapshot-only source

    def is_incremental_sync_safe_from(self, millis: int) -> bool:
        return False

    def inflight_instants(self, millis: int, pending: tuple[int, ...]) -> tuple[int, ...]:
        return ()


class DeltaSource:
    def __init__(self, spark: SparkSession, path: str):
        self.log = DeltaLog(spark, path)

    def current_snapshot(self) -> Snapshot:
        return self.log.current_snapshot()

    def changes_since(self, millis: int, pending: tuple[int, ...]) -> Iterator[TableChange]:
        for v in self.log.versions_after_millis(millis):
            yield self.log.changes_for_version(v)

    def is_incremental_sync_safe_from(self, millis: int) -> bool:
        # Delta commits are self-describing; safe while the commit files
        # exist. The probe uses the IN-COMMIT timestamp (commitInfo/
        # metaData), not file mtime — a copied or restored log keeps its
        # history, but mtimes reset and would wrongly flip this check.
        versions = self.log._versions()
        if not versions:
            return False
        return self.log.commit_timestamp(versions[0]) <= millis

    def inflight_instants(self, millis: int, pending: tuple[int, ...]) -> tuple[int, ...]:
        return ()  # Delta commits are atomic — never observed in-flight


class HudiSource:
    """``view`` (r11) sets the MOR posture for every scan this source
    runs: None (default) refuses on unmerged log files — a sync must
    never be silently stale — 'read_optimized' is the explicit stale
    choice (the reference's only behavior).

    ``view='realtime'`` as a SYNC source refuses while unmerged logs
    exist (r12): the netted counts are honest to a realtime READER, but a
    Delta/Iceberg target records file descriptors a target ENGINE scans —
    base parquet cannot reproduce the netted rows, so the target's data
    plane would silently disagree with its stats plane
    (ITOneTableClient.java:716-813 checkDatasetEquivalence is the bar).
    The fix is materialization: ``HudiTimeline.compact_file_groups()``
    merges the log blocks into new base files, after which every view
    syncs row-honest parquet."""

    def __init__(self, spark: SparkSession, path: str, view: Optional[str] = None):
        self.timeline = HudiTimeline(spark, path)
        self.view = view

    def _refuse_unmaterialized_realtime(self) -> None:
        if self.view == "realtime" and self.timeline.has_unmerged_logs():
            raise ValueError(
                f"{self.timeline.table_path}: view='realtime' cannot be "
                "SYNCED while unmerged log files exist — a target engine "
                "scanning the base parquet cannot reproduce the netted "
                "rows (stats plane would silently disagree with the data "
                "plane). Run HudiTimeline.compact_file_groups() to "
                "materialize the log blocks into base files first, or "
                "sync view='read_optimized' to accept stale base files "
                "explicitly."
            )

    def current_snapshot(self) -> Snapshot:
        # S5 (HudiFileStatsExtractor.java:87-103): stats come from the
        # metadata plane when the commit metadata carries them, then from
        # the metadata-table column_stats partition when the table
        # advertises it; only files covered by neither fall back to a
        # distributed footer read
        from onetable_spark.sources.parquet_inventory import enrich_missing_stats

        self._refuse_unmaterialized_realtime()
        snap = self.timeline.current_snapshot(view=self.view)
        return Snapshot(
            table=snap.table,
            files=enrich_missing_stats(snap.files, table_path=self.timeline.table_path),
            version=snap.version,
            pending_commits=snap.pending_commits,
        )

    def changes_since(self, millis: int, pending: tuple[int, ...]) -> Iterator[TableChange]:
        # completed-after-watermark ∪ previously-pending now-completed (G4
        # merge, HudiClient.java:128-149)
        from onetable_spark.formats.hudi import millis_to_instant

        self._refuse_unmaterialized_realtime()
        instants = set(self.timeline.instants_after_millis(millis))
        completed = {i for i, _ in self.timeline.completed_instants()}
        instants |= {millis_to_instant(p) for p in pending} & completed
        for i in sorted(instants):
            yield self.timeline.changes_for_instant(i, view=self.view)

    def is_incremental_sync_safe_from(self, millis: int) -> bool:
        return self.timeline.is_incremental_sync_safe_from(millis)

    def inflight_instants(self, millis: int, pending: tuple[int, ...]) -> tuple[int, ...]:
        """Still-pending instants = pending-after-watermark ∪ previously-
        tracked pending still not completed (HudiClient.java:165-186 merge)."""
        pending_now = {instant_to_millis(i) for i in self.timeline.pending_instants()}
        return tuple(sorted({p for p in pending_now if p > millis} | (set(pending) & pending_now)))


class IcebergSource:
    def __init__(self, spark: SparkSession, path: str, catalog_config=None, identifier=None):
        # S15 (IcebergTableManager.java:52-101): catalog present → resolve the
        # identifier through it; else treat path as a HadoopTables layout.
        if catalog_config is not None:
            self.table = IcebergTable.from_catalog(
                spark, catalog_config, identifier, table_path=path
            )
        else:
            self.table = IcebergTable(spark, path)

    def current_snapshot(self) -> Snapshot:
        return self.table.current_snapshot()

    def changes_since(self, millis: int, pending: tuple[int, ...]) -> Iterator[TableChange]:
        for snap in self.table.snapshots_after_millis(millis):
            yield self.table.changes_for_snapshot(snap["snapshot-id"])

    def is_incremental_sync_safe_from(self, millis: int) -> bool:
        return self.table.is_incremental_sync_safe_from(millis)

    def inflight_instants(self, millis: int, pending: tuple[int, ...]) -> tuple[int, ...]:
        return ()  # Iceberg snapshots appear atomically in metadata.json


# ------------------------------------------------------------------- targets


class DeltaTarget:
    table_format = TableFormat.DELTA

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.log = DeltaLog(spark, path)

    def get_sync_metadata(self) -> Optional[TableMetadata]:
        if not self.log.exists():
            return None
        return self.log.get_sync_metadata()

    def _ensure(self, table: Table) -> None:
        if not self.log.exists():
            self.log.init_table(
                Table(**{**table.__dict__, "table_format": TableFormat.DELTA})
            )

    def sync_snapshot(self, snapshot: Snapshot, metadata: TableMetadata) -> None:
        # a first sync into a fresh table needs no reconciliation: added is
        # the whole snapshot, nothing is removed — skips two anti-join jobs
        # per target (matters for sync latency; the diff path only pays off
        # when there is a current state to diff against)
        fresh = not self.log.exists()
        self._ensure(snapshot.table)
        if fresh:
            added, removed = snapshot.files, None
        else:
            added, removed = files_diff(snapshot.files, self.log.snapshot_files())
        meta = self._meta_with_schema(snapshot.table, metadata)
        self.log.commit(adds=added, removes=removed, metadata=meta, operation="SYNC_SNAPSHOT")

    def _meta_with_schema(self, table: Table, metadata: TableMetadata) -> dict:
        """Configuration bookkeeping + schema/partition-spec replay: when the
        source schema evolved (legally), the metaData action carries the new
        schemaString; when the partition spec evolved (K7), the new
        partitionColumns — with generated-column expressions for time
        transforms — replace the old ones in the same action
        (syncSchema + syncPartitionSpec lifecycle steps,
        TableFormatSync.java:146-174, IcebergPartitionSpecSync.java:43-68)."""
        import json as _json

        from onetable_spark.formats.delta import _schema_with_generated_columns

        meta = self.log.update_configuration(metadata.to_props())
        current = self.log.table_descriptor().read_schema if self.log.latest_version() >= 0 else None
        if _schema_evolved(current, table.read_schema):
            meta["schemaString"] = _json.dumps(table.read_schema.jsonValue())
        wanted_cols = [c for p in table.partition_fields for c in p.column_names]
        if self.log.latest_version() >= 0 and wanted_cols != (
            meta.get("partitionColumns") or []
        ):
            meta["partitionColumns"] = wanted_cols
            meta["schemaString"] = _json.dumps(
                _schema_with_generated_columns(table).jsonValue()
            )
        return meta

    def sync_change(self, change: TableChange, metadata: TableMetadata) -> None:
        self._ensure(change.table)
        meta = self._meta_with_schema(change.table, metadata)
        self.log.commit(
            adds=change.diff.added,
            removes=change.diff.removed,
            metadata=meta,
            operation="SYNC_CHANGE",
        )


class HudiTarget:
    table_format = TableFormat.HUDI

    def __init__(self, spark: SparkSession, path: str, retention_hours: int = 168):
        self.spark = spark
        self.timeline = HudiTimeline(spark, path)
        self.retention_hours = retention_hours

    def _maintain_timeline(self) -> None:
        """K10 table services after every commit: clean file groups replaced
        before the retention horizon, then archive old instants
        (HudiTargetClient.completeSync → markInstantsAsCleaned + runArchiver,
        HudiTargetClient.java:360-546)."""
        horizon = millis_to_instant(
            int(time.time() * 1000) - self.retention_hours * 3600_000
        )
        self.timeline.clean(horizon)
        self.timeline.archive_timeline()

    def get_sync_metadata(self) -> Optional[TableMetadata]:
        if not self.timeline.exists():
            return None
        return self.timeline.get_sync_metadata()

    def _ensure(self, table: Table) -> None:
        if not self.timeline.exists():
            self.timeline.init_table(
                Table(**{**table.__dict__, "table_format": TableFormat.HUDI})
            )

    def _replace_ids_for(self, removed) -> dict[str, list[str]]:
        """Removed paths → per-partition fileIds (replace-commit semantics,
        BaseFileUpdatesExtractor.java:77-232).

        The rel-path strip, the partition split and the uuid5 fileId
        (``_file_id_column``) are Spark expressions, with no Python stage;
        the driver only collects the per-partition aggregated id lists —
        the same payload the commit JSON must hold anyway."""
        from pyspark.sql import functions as F

        from onetable_spark.formats.hudi import _file_id_column

        prefix = self.timeline.table_path.rstrip("/") + "/"
        rel = F.when(
            F.col("path").startswith(prefix), F.expr(f"substring(path, {len(prefix) + 1})")
        ).otherwise(F.col("path"))
        agg = (
            removed.select(rel.alias("rel"))
            .select(
                F.when(
                    F.instr("rel", "/") > 0, F.regexp_replace("rel", "/[^/]*$", "")
                )
                .otherwise(F.lit(""))
                .alias("partition"),
                _file_id_column(F.col("rel")).alias("file_id"),
            )
            .groupBy("partition")
            .agg(F.sort_array(F.collect_list("file_id")).alias("file_ids"))
            .collect()
        )
        return {r["partition"]: list(r["file_ids"]) for r in agg}

    def _validate_schema(self, table: Table) -> None:
        if self.timeline.exists() and self.timeline.latest_instant():
            _schema_evolved(self.timeline.table_descriptor().read_schema, table.read_schema)
        self._validate_guardrails(table)

    def _validate_guardrails(self, table: Table) -> None:
        """K11: hoodie.properties pins record keys and the partition spec at
        table creation — a source that later changes either is rejected
        before anything commits (HudiTableManager.java:190-240 refuses to
        reconcile a mismatched table config)."""
        if not self.timeline.exists():
            return
        props = self.timeline.table_properties()
        existing_keys = tuple(
            k for k in (props.get("hoodie.table.recordkey.fields") or "").split(",") if k
        )
        if existing_keys and tuple(table.record_key_fields) != existing_keys:
            raise ValueError(
                f"record key change rejected: table pins {existing_keys}, "
                f"source now has {tuple(table.record_key_fields)}"
            )
        existing_spec = tuple(
            s for s in (props.get("hoodie.table.partition.fields") or "").split(",") if s
        )
        incoming_spec = tuple(
            # bucket/truncate (r13): the pinned physical path key is the
            # MATERIALIZED column name (identity downgrade) — must match
            # what init_table wrote into hoodie.table.partition.fields
            p.name
            if p.transform in (PartitionTransform.BUCKET, PartitionTransform.TRUNCATE)
            else p.source_field
            for p in table.partition_fields
        )
        if existing_spec != incoming_spec:
            raise ValueError(
                f"partition spec change rejected: table pins {existing_spec}, "
                f"source now has {incoming_spec}"
            )

    def sync_snapshot(self, snapshot: Snapshot, metadata: TableMetadata) -> None:
        fresh = not self.timeline.exists() or self.timeline.latest_instant() is None
        self._ensure(snapshot.table)
        self._validate_schema(snapshot.table)
        if fresh:
            # first sync: no diff jobs, no replace-id aggregation
            added, replace = snapshot.files, {}
        else:
            added, removed = files_diff(snapshot.files, self.timeline.snapshot_files())
            replace = self._replace_ids_for(removed)
        self.timeline.commit(
            adds=added,
            replace_file_ids=replace or None,
            extra_metadata=metadata.to_props(),
            schema=snapshot.table.read_schema,
            operation="INSERT_OVERWRITE" if replace else "BULK_INSERT",
        )
        self._maintain_timeline()

    def sync_change(self, change: TableChange, metadata: TableMetadata) -> None:
        self._ensure(change.table)
        self._validate_schema(change.table)
        replace = self._replace_ids_for(change.diff.removed)
        self.timeline.commit(
            adds=change.diff.added,
            replace_file_ids=replace or None,
            extra_metadata=metadata.to_props(),
            schema=change.table.read_schema,
            operation="UPSERT",
        )
        self._maintain_timeline()


class IcebergTarget:
    table_format = TableFormat.ICEBERG

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        retention_hours: int = 168,
        catalog_config=None,
        identifier=None,
    ):
        self.spark = spark
        if catalog_config is not None:
            self.table = IcebergTable.from_catalog(
                spark, catalog_config, identifier, table_path=path
            )
        else:
            self.table = IcebergTable(spark, path)
        self.retention_hours = retention_hours

    def get_sync_metadata(self) -> Optional[TableMetadata]:
        if not self.table.exists():
            return None
        # K12: a corrupt current snapshot (missing manifest list) rolls back
        # and clears the watermark here, forcing the planner into FULL mode
        self.table.recover_if_corrupt()
        return self.table.get_sync_metadata()

    def _ensure(self, table: Table) -> None:
        if not self.table.exists():
            self.table.init_table(
                Table(**{**table.__dict__, "table_format": TableFormat.ICEBERG})
            )

    def _expiry_horizon(self) -> int:
        return int(time.time() * 1000) - self.retention_hours * 3600_000

    def _validate_schema(self, table: Table) -> None:
        if self.table.exists():
            _schema_evolved(self.table.table_descriptor().read_schema, table.read_schema)

    def sync_snapshot(self, snapshot: Snapshot, metadata: TableMetadata) -> None:
        fresh = not self.table.exists()
        self._ensure(snapshot.table)
        self._validate_schema(snapshot.table)
        if fresh:
            added, removed = snapshot.files, None
        else:
            added, removed = files_diff(snapshot.files, self.table.snapshot_files())
        self.table.commit_overwrite(
            adds=added,
            removes=removed,
            properties=metadata.to_props(),
            schema=snapshot.table.read_schema,
            expire_older_than_millis=self._expiry_horizon(),
            partition_fields=snapshot.table.partition_fields,
        )

    def sync_change(self, change: TableChange, metadata: TableMetadata) -> None:
        self._ensure(change.table)
        self._validate_schema(change.table)
        self.table.commit_overwrite(
            adds=change.diff.added,
            removes=change.diff.removed,
            properties=metadata.to_props(),
            schema=change.table.read_schema,
            expire_older_than_millis=self._expiry_horizon(),
            partition_fields=change.table.partition_fields,
        )


# ----------------------------------------------------------------- factories
#
# Plugin registry mirroring the reference's ServiceLoader discovery
# (TableFormatClientFactory.java:49-73): built-ins are pre-registered,
# third-party formats plug in either imperatively via register_target /
# register_source or declaratively via package entry points in the groups
# "onetable_spark.targets" / "onetable_spark.sources" (entry-point name =
# format string, value = the client class) — the Pythonic equivalent of
# META-INF/services. Keys are the TableFormat enum for built-ins and
# upper-cased strings for external formats, so a new format needs no enum
# patch.

_SOURCES: dict = {
    TableFormat.PARQUET: ParquetSource,
    TableFormat.DELTA: DeltaSource,
    TableFormat.HUDI: HudiSource,
    TableFormat.ICEBERG: IcebergSource,
}
_TARGETS: dict = {
    TableFormat.DELTA: DeltaTarget,
    TableFormat.HUDI: HudiTarget,
    TableFormat.ICEBERG: IcebergTarget,
}
_EP_GROUPS = (("onetable_spark.sources", _SOURCES), ("onetable_spark.targets", _TARGETS))
_ep_scanned = False


def _fmt_key(fmt: TableFormat | str):
    try:
        return TableFormat(fmt)
    except ValueError:
        return str(fmt).upper()


def register_source(fmt: TableFormat | str, cls: type) -> None:
    """Register a SourceClient implementation for a format name."""
    _SOURCES[_fmt_key(fmt)] = cls


def register_target(fmt: TableFormat | str, cls: type) -> None:
    """Register a TargetClient implementation for a format name
    (TableFormatClientFactory.java:49-73's ServiceLoader hook)."""
    _TARGETS[_fmt_key(fmt)] = cls


def _scan_entry_points() -> None:
    """One-shot entry-point discovery; explicit register_* calls and the
    built-ins always win over entry-point declarations (first-wins, like
    ServiceLoader iteration order with the core provider first)."""
    global _ep_scanned
    if _ep_scanned:
        return
    _ep_scanned = True
    try:
        from importlib.metadata import entry_points
    except ImportError:  # pragma: no cover - py3.7 only
        return
    for group, registry in _EP_GROUPS:
        try:
            eps = entry_points(group=group)
        except TypeError:  # pragma: no cover - pre-3.10 selectable API
            eps = entry_points().get(group, [])
        for ep in eps:
            try:
                registry.setdefault(_fmt_key(ep.name), ep.load())
            except Exception:  # noqa: BLE001 - a broken plugin must not break core
                continue


def registered_formats() -> dict[str, tuple[bool, bool]]:
    """{format: (has_source, has_target)} over built-ins + plugins."""
    _scan_entry_points()
    fmts = {str(getattr(k, "value", k)) for k in (*_SOURCES, *_TARGETS)}
    return {
        f: (_fmt_key(f) in _SOURCES, _fmt_key(f) in _TARGETS) for f in sorted(fmts)
    }


def source_for(
    spark: SparkSession, fmt: TableFormat | str, path: str, **kwargs
) -> SourceClient:
    _scan_entry_points()
    key = _fmt_key(fmt)
    if key not in _SOURCES:
        raise ValueError(
            f"no source client registered for format {fmt!r}; "
            f"known: {sorted(registered_formats())}"
        )
    return _SOURCES[key](spark, path, **kwargs)


def target_for(
    spark: SparkSession, fmt: TableFormat | str, path: str, **kwargs
) -> TargetClient:
    """ServiceLoader-style registry (TableFormatClientFactory.java:49-73)."""
    _scan_entry_points()
    key = _fmt_key(fmt)
    if key not in _TARGETS:
        raise ValueError(
            f"no target client registered for format {fmt!r}; "
            f"known: {sorted(registered_formats())}"
        )
    return _TARGETS[key](spark, path, **kwargs)


# -------------------------------------------------------------------- client


@dataclass
class SyncConfig:
    mode: SyncMode = SyncMode.INCREMENTAL
    retention_hours: int = 168  # PerTableConfigImpl.java:126 default
    # Sync the N targets of one snapshot/change concurrently. Safe because
    # each target owns a disjoint metadata directory and the shared inputs
    # (snapshot.files / change.diff.added) are persisted DataFrames, which
    # Spark allows concurrent actions on; multi-sink latency becomes the
    # slowest target instead of the sum. Per-target ORDER of changes is
    # preserved — only the fan-out across targets is parallel.
    parallel_targets: bool = True


@dataclass
class SyncClient:
    """OneTableClient.java:84-139 — one source fan-out to N targets."""

    spark: SparkSession
    config: SyncConfig = field(default_factory=SyncConfig)

    def sync(
        self, source: SourceClient, targets: list[TargetClient]
    ) -> dict[TableFormat, SyncResult]:
        results: dict[TableFormat, SyncResult] = {}
        watermarks = {t.table_format: t.get_sync_metadata() for t in targets}

        incremental: list[TargetClient] = []
        full: list[TargetClient] = []
        for t in targets:
            mark = watermarks[t.table_format]
            if (
                self.config.mode == SyncMode.INCREMENTAL
                and mark is not None
                and source.is_incremental_sync_safe_from(mark.last_instant_synced_millis)
            ):
                incremental.append(t)
            else:
                full.append(t)  # fallback: snapshot sync

        if full:
            snapshot = source.current_snapshot()
            # one extraction reused by all targets (OneTableClient.java:113-121)
            snapshot.files.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                metadata = TableMetadata(
                    last_instant_synced_millis=snapshot.table.latest_commit_millis,
                    inflight_commits=snapshot.pending_commits,
                )
                results.update(
                    self._run_targets(
                        [
                            (t, SyncMode.FULL, lambda tt=t: tt.sync_snapshot(snapshot, metadata))
                            for t in full
                        ]
                    )
                )
            finally:
                snapshot.files.unpersist()

        if incremental:
            # most-out-of-sync instant across targets (G5, OneTableClient.java:248-266)
            earliest = min(
                watermarks[t.table_format].last_instant_synced_millis for t in incremental
            )
            pending: tuple[int, ...] = tuple(
                sorted(
                    {
                        c
                        for t in incremental
                        for c in watermarks[t.table_format].inflight_commits
                    }
                )
            )
            alive = {t.table_format: t for t in incremental}
            # in-flight source commits, computed ONCE for the batch and stored
            # in every change's metadata — otherwise the first incremental
            # sync wipes the pending-commit watermark a FULL sync recorded and
            # a commit completing after the watermark advances is lost forever
            # (TableFormatSync.getSyncResult pendingCommits pass-through)
            inflight = source.inflight_instants(earliest, pending)
            for change in source.changes_since(earliest, pending):
                if not alive:
                    break
                change.diff.added.persist(StorageLevel.MEMORY_AND_DISK)
                try:
                    metadata = TableMetadata(
                        last_instant_synced_millis=change.commit_millis,
                        inflight_commits=inflight,
                    )
                    due = []
                    for fmt, t in list(alive.items()):
                        mark = watermarks[fmt]
                        # commit pruning (G6, TableFormatSync.java:135-144)
                        if change.commit_millis <= mark.last_instant_synced_millis and (
                            change.commit_millis not in mark.inflight_commits
                        ):
                            continue
                        due.append(
                            (t, SyncMode.INCREMENTAL, lambda tt=t: tt.sync_change(change, metadata))
                        )
                    for fmt, result in self._run_targets(due).items():
                        results[fmt] = result
                        if result.status == SyncStatus.ERROR:
                            # drop target after first failure (TableFormatSync.java:93-133)
                            del alive[fmt]
                finally:
                    change.diff.added.unpersist()

        return results

    def _run_targets(self, work) -> dict[TableFormat, SyncResult]:
        """Fan one snapshot/change out to its targets — concurrently when
        configured (each ``_run`` already isolates per-target failures, so
        a thread raising is impossible; errors come back as SyncResult)."""
        if len(work) > 1 and self.config.parallel_targets:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=len(work)) as pool:
                futures = [
                    (t.table_format, pool.submit(self._run, t, mode, action))
                    for t, mode, action in work
                ]
                return {fmt: f.result() for fmt, f in futures}
        return {t.table_format: self._run(t, mode, action) for t, mode, action in work}

    @staticmethod
    def _run(target: TargetClient, mode: SyncMode, action) -> SyncResult:
        start = time.perf_counter()
        try:
            action()
            return SyncResult(
                status=SyncStatus.SUCCESS,
                mode=mode,
                target_format=target.table_format,
                duration_sec=time.perf_counter() - start,
            )
        except Exception as e:  # noqa: BLE001 — per-target isolation, RunSync.java:169-171
            return SyncResult(
                status=SyncStatus.ERROR,
                mode=mode,
                target_format=target.table_format,
                duration_sec=time.perf_counter() - start,
                error=str(e),
            )


def sync_iceberg_deletes_to_delta_dv(
    spark: SparkSession,
    iceberg_path: str,
    delta_path: str | None = None,
    apply_equality_deletes: bool = False,
) -> int:
    """Cross-format ROW-DELETE TRANSLATION (r11): a full-snapshot sync of
    an Iceberg v2 merge-on-read table into Delta where the position
    deletes become REAL Delta deletion vectors instead of net-count-only
    metadata.

    Why this exists: a plain metadata sync of a MoR source can only write
    net record counts — the target's descriptors still point at the full
    physical parquet, so a Delta ENGINE reading the target resurrects the
    deleted rows (the data plane disagrees with the stats plane). With
    translation, each affected file gets a RoaringBitmapArray .bin
    authored from exactly the applicable (path, pos) set
    (IcebergTable.snapshot_with_deleted_positions →
    DeltaLog.commit(deletion_vectors=...)), the adds carry RAW physical
    counts, and the protocol upgrades to the deletionVectors reader
    feature — a Delta reader now skips row-for-row what the Iceberg
    reader skips. The reference has no row-level plane at all. Equality
    deletes refuse (no positional form without the data-assisted scan).

    Returns the committed Delta version.
    """
    from dataclasses import replace

    src = IcebergTable(spark, iceberg_path)
    raw, positions = src.snapshot_with_deleted_positions(
        apply_equality_deletes=apply_equality_deletes
    )
    log = DeltaLog(spark, delta_path or iceberg_path)
    table = replace(src.table_descriptor(), table_format=TableFormat.DELTA)
    log.init_table(table)
    # full bootstrap: clear any previously synced snapshot first so the
    # translated state is the whole table state (snapshot-sync semantics)
    removes = log.snapshot_files() if log.latest_version() > 0 else None
    # driver-ok: emptiness probe, one boolean
    if removes is not None and removes.isEmpty():
        removes = None
    return log.commit(
        adds=raw,
        removes=removes,
        deletion_vectors=positions,
        operation="SYNC-DV-TRANSLATE",
    )


def sync_iceberg_deletes_to_hudi_logs(
    spark: SparkSession,
    iceberg_path: str,
    hudi_path: str | None = None,
    apply_equality_deletes: bool = False,
) -> str:
    """The THIRD edge of the cross-format delete triangle (r12): an
    Iceberg v2 MoR source's position deletes land in a Hudi target as
    real HoodieLogFormat DELETE blocks, not net-count-only metadata.

    Why this exists: Hudi has no positional delete form — its row-level
    encoding is a DELETE log block (type 1) holding record KEYS, which a
    MOR reader merges against the base file. A plain metadata sync can
    only write net counts, so a Hudi ENGINE reading the target resurrects
    the deleted rows. Here the full snapshot lands with RAW physical
    counts (one COW commit), then one deltacommit authors a DELETE block
    per affected file group from the keys READ AT THE DELETED POSITIONS
    (IcebergTable.snapshot_with_deleted_positions →
    HudiTimeline.commit_delete_logs) — the realtime view then nets
    exactly those rows and ``verify_log_stats`` can recount them from
    bytes. Record keys come from the Iceberg identifier-field-ids
    (→ hoodie.table.recordkey.fields); a source without identifier
    fields refuses — Hudi deletes are inexpressible without keys.

    Reference contrast: the reference's Hudi plane never writes log
    files (HudiDataFileExtractor.java:344-363 base files only), so its
    Hudi targets silently disagree with a v2 source's delete plane.

    Returns the deltacommit instant (or the bootstrap commit's when the
    source has no live deletes).
    """
    from dataclasses import replace

    src = IcebergTable(spark, iceberg_path)
    raw, positions = src.snapshot_with_deleted_positions(
        apply_equality_deletes=apply_equality_deletes
    )
    tl = HudiTimeline(spark, hudi_path or iceberg_path)
    table = replace(src.table_descriptor(), table_format=TableFormat.HUDI)
    if not tl.exists():
        tl.init_table(table)
    instant = tl.commit(adds=raw, schema=table.read_schema, operation="BULK_INSERT")
    # driver-ok: emptiness probe, one boolean
    if not positions.isEmpty():
        instant = tl.commit_delete_logs(
            positions, key_fields=table.record_key_fields
        )
    return instant


def sync_delta_dvs_to_iceberg(
    spark: SparkSession, delta_path: str, iceberg_path: str
) -> int:
    """The REVERSE delete translation (r11): a Delta table's deletion
    vectors become REAL Iceberg v2 position deletes. The raw physical
    inventory lands as an append on a fresh format-version-2 table, then
    one MoR DELETE commit writes the decoded (path, pos) rows as a
    spec-shaped position-delete parquet + DELETE manifest
    (DeltaLog.snapshot_with_deleted_positions →
    IcebergTable.commit_position_deletes) — so an Iceberg reader skips
    row-for-row what delta-spark skips, instead of net-count metadata.
    Together with ``sync_iceberg_deletes_to_delta_dv`` this closes the
    loop: row-level deletes round-trip across both formats through
    nothing but public byte formats. Returns the delete snapshot id (or
    the append's when the source has no DVs)."""
    from dataclasses import replace

    src = DeltaLog(spark, delta_path)
    raw, positions = src.snapshot_with_deleted_positions()
    tbl = IcebergTable(spark, iceberg_path)
    if tbl.exists():
        raise ValueError(
            f"{iceberg_path}: reverse DV translation bootstraps a FRESH "
            "v2 table; target already exists"
        )
    table = replace(src.table_descriptor(), table_format=TableFormat.ICEBERG)
    tbl.init_table(table, format_version=2)
    snap = tbl.commit_overwrite(adds=raw)
    # driver-ok: emptiness probe, one boolean
    if not positions.isEmpty():
        snap = tbl.commit_position_deletes(positions)
    return snap
