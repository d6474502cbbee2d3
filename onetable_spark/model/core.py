"""Canonical intermediate representation (IR) of the metadata plane.

Mirrors the reference's ``io.onetable.model.*`` value classes (SURVEY §1.1)
with two deliberate departures:

- the schema hub is Spark's ``StructType`` (the reference's ``OneSchema``
  tree maps 1:1; see api/src/main/java/io/onetable/model/schema/OneSchema.java:43-78),
  so the Delta converter becomes the identity and Avro/Iceberg converters
  have a single well-tested target;
- file inventories are **DataFrames** with ``FILES_SCHEMA`` (the reference
  holds ``List<OneDataFile>`` on the driver —
  api/src/main/java/io/onetable/model/storage/OneDataFile.java:39-56 — which
  caps at driver memory; a DataFrame scales to 100 TB tables with millions
  of files and lets Catalyst plan the diff/group/stat operators).
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import types as T


class TableFormat(str, enum.Enum):
    """api/.../model/TableFormat.java:26-35"""

    DELTA = "DELTA"
    ICEBERG = "ICEBERG"
    HUDI = "HUDI"
    PARQUET = "PARQUET"  # plain directory of parquet files (our addition)


class FileFormat(str, enum.Enum):
    """api/.../model/storage/FileFormat.java:26-30"""

    PARQUET = "parquet"
    ORC = "orc"
    AVRO = "avro"


class DataLayoutStrategy(str, enum.Enum):
    """api/.../model/storage/DataLayoutStrategy.java:29-36"""

    FLAT = "FLAT"
    HIVE_STYLE_PARTITION = "HIVE_STYLE_PARTITION"
    DIR_HIERARCHY_PARTITION_VALUES = "DIR_HIERARCHY_PARTITION_VALUES"


class PartitionTransform(str, enum.Enum):
    """api/.../model/schema/PartitionTransformType.java:28-37.

    ``BUCKET``/``TRUNCATE`` (r13) go BEYOND the reference, which throws on
    them (IcebergPartitionSpecExtractor.java:81-141) even though bucketing
    is the most common Iceberg layout in practice. Their transform
    parameter (N buckets / width W) rides in
    ``PartitionField.transform_arg``."""

    YEAR = "YEAR"
    MONTH = "MONTH"
    DAY = "DAY"
    HOUR = "HOUR"
    VALUE = "VALUE"
    BUCKET = "BUCKET"
    TRUNCATE = "TRUNCATE"

    @property
    def is_time_based(self) -> bool:
        return self in (
            PartitionTransform.YEAR,
            PartitionTransform.MONTH,
            PartitionTransform.DAY,
            PartitionTransform.HOUR,
        )


class SyncMode(str, enum.Enum):
    """api/.../model/sync/SyncMode.java:26-33"""

    FULL = "FULL"
    INCREMENTAL = "INCREMENTAL"


class SyncStatus(str, enum.Enum):
    SUCCESS = "SUCCESS"
    ERROR = "ERROR"


@dataclass(frozen=True)
class PartitionField:
    """api/.../model/schema/OnePartitionField.java:34-41.

    ``partition_field_names`` (plural) carries the MULTI-column fused form
    (C5): a Delta table partitioned by generated columns YEAR(ts)/
    MONTH(ts)/DAY(ts) is ONE logical DAY transform materialized as three
    physical partition columns (OnePartitionField.partitionFieldNames,
    DeltaPartitionExtractor.java:104-225)."""

    source_field: str
    transform: PartitionTransform = PartitionTransform.VALUE
    partition_field_name: Optional[str] = None
    partition_field_names: tuple[str, ...] = ()
    # BUCKET's N / TRUNCATE's W (r13); None for every other transform
    transform_arg: Optional[int] = None

    @property
    def name(self) -> str:
        return self.partition_field_name or self.source_field

    @property
    def column_names(self) -> tuple[str, ...]:
        """Physical partition column names: the fused list when present,
        else the single (generated or source) column."""
        return self.partition_field_names or (self.name,)


@dataclass(frozen=True)
class Table:
    """Point-in-time table descriptor — api/.../model/OneTable.java:38-53"""

    name: str
    base_path: str
    table_format: TableFormat
    read_schema: T.StructType
    partition_fields: tuple[PartitionField, ...] = ()
    record_key_fields: tuple[str, ...] = ()
    layout: DataLayoutStrategy = DataLayoutStrategy.FLAT
    latest_commit_millis: int = 0


# One row per data file. The reference's OneDataFile + nested ColumnStat
# (api/.../model/stat/ColumnStat.java:33-40); min/max carried as strings to
# stay schema-stable across column types (typed interpretation happens at
# the format boundary, like the reference's Range<Comparable>).
FILES_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("file_format", T.StringType(), False),
        T.StructField(
            "partition_values", T.MapType(T.StringType(), T.StringType()), True
        ),
        T.StructField("size", T.LongType(), True),
        T.StructField("record_count", T.LongType(), True),
        T.StructField("last_modified_millis", T.LongType(), True),
        T.StructField(
            "column_stats",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("field", T.StringType(), False),
                        T.StructField("min_value", T.StringType(), True),
                        T.StructField("max_value", T.StringType(), True),
                        T.StructField("num_nulls", T.LongType(), True),
                        T.StructField("num_values", T.LongType(), True),
                        T.StructField("total_size", T.LongType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)


@dataclass(frozen=True)
class ColumnStat:
    """Driver-side stat value (api/.../model/stat/ColumnStat.java:33-40)."""

    field: str
    min_value: Any = None
    max_value: Any = None
    num_nulls: int = 0
    num_values: int = 0
    total_size: int = 0


@dataclass(frozen=True)
class DataFile:
    """Driver-side file descriptor for small inventories / unit tests.

    Production paths keep inventories as DataFrames (FILES_SCHEMA)."""

    path: str
    file_format: FileFormat = FileFormat.PARQUET
    partition_values: dict[str, str] = field(default_factory=dict)
    size: int = 0
    record_count: int = 0
    last_modified_millis: int = 0
    column_stats: tuple[ColumnStat, ...] = ()


@dataclass
class Snapshot:
    """Full table state — api/.../model/OneSnapshot.java:42-53.

    ``files`` is a DataFrame with FILES_SCHEMA (never a driver list)."""

    table: Table
    files: DataFrame
    version: str = "0"
    pending_commits: tuple[int, ...] = ()
    schema_catalog: dict[int, T.StructType] = field(default_factory=dict)


@dataclass
class FilesDiff:
    """api/.../model/storage/OneDataFilesDiff.java:36-68 — both sides are
    DataFrames; construction is the G1 anti-join pair."""

    added: DataFrame
    removed: DataFrame


@dataclass
class TableChange:
    """One commit's delta — api/.../model/TableChange.java:33-40"""

    table: Table
    diff: FilesDiff
    commit_millis: int = 0
    commit_id: str = ""


@dataclass(frozen=True)
class SyncResult:
    """api/.../model/sync/SyncResult.java:34-67"""

    status: SyncStatus
    mode: SyncMode
    target_format: TableFormat
    duration_sec: float = 0.0
    error: Optional[str] = None


@dataclass(frozen=True)
class TableMetadata:
    """Sync bookkeeping persisted into the target table's own properties —
    api/.../model/OneTableMetadata.java:51-92"""

    last_instant_synced_millis: int
    inflight_commits: tuple[int, ...] = ()

    PROP_LAST_SYNCED = "onetable.lastInstantSynced"
    PROP_INFLIGHT = "onetable.inflightCommits"

    def to_props(self) -> dict[str, str]:
        return {
            self.PROP_LAST_SYNCED: str(self.last_instant_synced_millis),
            self.PROP_INFLIGHT: ",".join(str(c) for c in self.inflight_commits),
        }

    @classmethod
    def from_props(cls, props: dict[str, str]) -> Optional["TableMetadata"]:
        raw = props.get(cls.PROP_LAST_SYNCED)
        if raw is None:
            return None
        inflight = tuple(
            int(x) for x in props.get(cls.PROP_INFLIGHT, "").split(",") if x
        )
        return cls(last_instant_synced_millis=int(raw), inflight_commits=inflight)


def iter_inventory_rows(files: DataFrame | None, batch_rows: int = 65536, arrow_table=None):
    """Driver-side iteration of a file inventory as plain dicts, batched
    through Arrow.

    The commit planes must serialize every changed file's descriptor into
    their commit payload on the driver (the reference does the same —
    commit metadata IS a driver-side artifact). ``collect()`` materializes
    O(table) JVM Row objects (~760 MB per million files); this instead
    pulls ONE Arrow table (columnar, ~10× smaller) in a single job and
    converts to Python dicts one ``batch_rows`` batch at a time, so the
    Python-object footprint is O(batch) and a million-file commit stays
    far under a driver's memory. Arrow map columns arrive as (key, value)
    tuple lists — normalized to dicts here so consumers see the same
    shape ``collect()`` gave them.
    """
    # arrow_table: a pre-collected table, when the caller already paid for
    # the one-job Arrow materialization (e.g. to size a write fan-out);
    # ``files`` may then be None
    import pyarrow as pa

    tbl = files.toArrow() if arrow_table is None else arrow_table
    map_cols = [f.name for f in tbl.schema if pa.types.is_map(f.type)]
    for batch in tbl.to_batches(max_chunksize=batch_rows):
        for row in batch.to_pylist():
            for c in map_cols:
                if isinstance(row.get(c), list):
                    row[c] = dict(row[c])
            yield row
