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

import functools
import json
import os
import time
import uuid
from contextlib import contextmanager
from datetime import datetime, timezone
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from onetable_spark.session import local_rows_df, tagged_rows

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


def _instant_millis(instant):
    """``instant_to_millis`` as a Column over an instant Column, whatever
    the session time zone (the instant is UTC)."""
    return F.unix_timestamp(
        F.concat(F.substring(instant, 1, 14), F.lit("Z")), "yyyyMMddHHmmssX"
    ) * 1000 + F.coalesce(F.substring(instant, 15, 3).cast("long"), F.lit(0))


#: the rows every Hudi writer's executor stage returns, one per written
#: file: the write-stat facts ``_write_stat`` turns into commit JSON, plus
#: the record keys a log author wrote (``matched``)
_STAT_ROWS = T.StructType(
    [
        T.StructField("rel_path", T.StringType()),
        T.StructField("file_id", T.StringType()),
        T.StructField("partition_path", T.StringType()),
        T.StructField("prev_commit", T.StringType()),
        T.StructField("num_writes", T.LongType()),
        T.StructField("num_inserts", T.LongType()),
        T.StructField("num_updates", T.LongType()),
        T.StructField("num_deletes", T.LongType()),
        T.StructField("size", T.LongType()),
        T.StructField("cdc_path", T.StringType()),
        T.StructField("cdc_size", T.LongType()),
        T.StructField("matched", T.ArrayType(T.StringType())),
    ]
)


def _write_stat(row: dict, column_stats: Optional[str] = None) -> dict:
    """One HoodieWriteStat (``partitionToWriteStats`` entry) from a
    ``_STAT_ROWS``-shaped dict, absent counts 0; ``cdcStats`` (RFC-51)
    only when the write authored a supplemental cdc log."""
    stat = {
        "fileId": row["file_id"],
        "path": row["rel_path"],
        "prevCommit": row["prev_commit"],
        "numWrites": row["num_writes"],
        "numInserts": row.get("num_inserts") or 0,
        "numDeletes": row.get("num_deletes") or 0,
        "numUpdateWrites": row.get("num_updates") or 0,
        "totalWriteBytes": row["size"],
        "fileSizeInBytes": row["size"],
        "partitionPath": row["partition_path"],
        "columnStats": column_stats,
    }
    if row.get("cdc_path"):
        stat["cdcStats"] = {row["cdc_path"]: row["cdc_size"]}
    return stat


# ----------------------------------------------------------- record keys
# Hudi's KeyGenUtils: a single-field key is the bare value
# (SimpleKeyGenerator), a composite key ``f1:v1,f2:v2``
# (ComplexKeyGenerator) with placeholders for NULL and empty parts; a
# record whose key is entirely NULL or empty has no key at all.

_NULL_PART = "__null__"
_EMPTY_PART = "__empty__"
_NO_KEY = "Hudi record has no record key"


def _record_key(kf: list[str]):
    """The record key of each row as a Column — the one encoding every
    writer matches and logs by. Values are Spark's string casts; NULL
    where the row has no key (``_required_key`` refuses those)."""
    texts = [F.col(f).cast("string") for f in kf]
    if len(kf) == 1:
        return F.when(texts[0] != "", texts[0])
    keyless = F.lit(True)
    for t in texts:
        keyless = keyless & (F.coalesce(t, F.lit("")) == "")
    return F.when(
        ~keyless,
        F.concat_ws(
            ",",
            *[
                F.concat(
                    F.lit(f"{f}:"),
                    F.when(t.isNull(), F.lit(_NULL_PART))
                    .when(t == "", F.lit(_EMPTY_PART))
                    .otherwise(t),
                )
                for f, t in zip(kf, texts)
            ],
        ),
    )


def _required_key(key, kf: list[str]):
    """``key``, failing the task where it is NULL — inside the stage that
    computes it, so refusing costs no extra Spark job;
    ``HudiTimeline._refusing_keyless_rows`` turns the failure into a
    ValueError."""
    return F.coalesce(key, F.raise_error(F.lit(f"{_NO_KEY} ({', '.join(kf)})")))


def _refuse_float_keys(table_path: str, schema: T.StructType, kf: list[str]) -> None:
    """Refuse float/double record-key fields: Spark's cast renders them as
    Java's ``Double.toString`` (``1.0E7``), Python as its repr
    (``10000000.0``), so ``_record_key`` and ``_record_keys`` would differ."""
    floats = [f.name for f in schema.fields
              if f.name in kf and isinstance(f.dataType, (T.FloatType, T.DoubleType))]
    if floats:
        raise ValueError(f"{table_path}: record-key field(s) {floats} are float/double — "
                         "Spark and Python render them differently, so keys could not match")


def _key_text(v, tz: str) -> Optional[str]:
    """One key value as Spark's string cast renders it (the session time
    zone ``tz`` for instants; a naive timestamp is taken as wall clock)."""
    import datetime as dt
    from decimal import Decimal

    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            from zoneinfo import ZoneInfo

            v = v.astimezone(ZoneInfo(tz)).replace(tzinfo=None)
        frac = f".{v.microsecond:06d}".rstrip("0") if v.microsecond else ""
        return v.strftime("%Y-%m-%d %H:%M:%S") + frac
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, Decimal):
        return format(v, "f")
    return str(v)


def _record_keys(tbl, kf: list[str], tz: str):
    """Arrow twin of ``_record_key`` for rows held in Python — the merge
    of a file slice's base rows with its decoded log records: one string
    per row of the pyarrow table ``tbl``, NULL where the row has no key.
    String, integer and boolean parts are cast column-wise; other types
    go through ``_key_text`` value by value."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def texts(col):
        t = col.type
        if pa.types.is_string(t) or pa.types.is_integer(t) or pa.types.is_boolean(t):
            return pc.cast(col, pa.string())
        return pa.chunked_array([[_key_text(v, tz) for v in col.to_pylist()]], pa.string())

    parts = [texts(tbl.column(f)) for f in kf]
    none = pa.scalar(None, pa.string())
    if len(kf) == 1:
        return pc.if_else(pc.equal(parts[0], ""), none, parts[0])
    keyless = functools.reduce(pc.and_, [pc.equal(pc.fill_null(t, ""), "") for t in parts])
    filled = [pc.fill_null(t, _NULL_PART) for t in parts]
    joined = pc.binary_join_element_wise(
        *[
            pc.binary_join_element_wise(f"{f}:", pc.if_else(pc.equal(t, ""), _EMPTY_PART, t), "")
            for f, t in zip(kf, filled)
        ],
        ",",
    )
    return pc.if_else(keyless, none, joined)


def _merge_slice(tbl, log_paths: list[str], kf: list[str], tz: str):
    """A file slice's current rows: the pyarrow table ``tbl`` (its base
    file's rows, or the ones a caller needs) with the slice's log files
    applied in order — the one merge compaction writes out and the log
    author takes cdc before-images from. AVRO_DATA records UPSERT by
    record key (replace the rows with their key, then append) or
    plain-append on a keyless table; DELETE blocks drop rows by key;
    command/corrupt blocks hold no rows; HFILE/PARQUET blocks refuse (no
    byte decoder — never silently drop rows). The base rows stay columnar:
    only the decoded log records pass through Python."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from onetable_spark.formats.hudi_log import (
        avro_block_records,
        delete_block_records,
        read_log_blocks,
    )

    cols = tbl.schema.names
    keys = _record_keys(tbl, kf, tz) if kf else None

    def drop(dead):
        nonlocal tbl, keys
        keep = pc.invert(pc.is_in(keys, value_set=dead, skip_nulls=True))
        tbl, keys = tbl.filter(keep), keys.filter(keep)

    for path in log_paths:
        for block in read_log_blocks(path):
            btype = block["type"]
            if btype == "avro_data":
                _, recs = avro_block_records(block, decode=True)
                new = pa.Table.from_pylist(
                    [{c: r.get(c) for c in cols} for r in recs], schema=tbl.schema
                )
                if kf:
                    new_keys = _record_keys(new, kf, tz)
                    drop(new_keys.combine_chunks())
                    keys = pa.chunked_array(keys.chunks + new_keys.chunks, pa.string())
                tbl = pa.concat_tables([tbl, new])
            elif btype == "delete":
                if not kf:
                    raise ValueError(
                        f"{path}: DELETE block on a keyless table — rows are "
                        "unidentifiable"
                    )
                _, recs = delete_block_records(block)
                drop(pa.array([r["recordKey"] for r in recs], pa.string()))
            elif btype not in ("command", "corrupt"):
                raise ValueError(
                    f"{path}: cannot compact a {btype} block — no byte "
                    "decoder; refusing rather than dropping its rows"
                )
    return tbl


def _cdc_record(op: str, key: str, before, after, mode: str, ts_ms: str) -> dict:
    """One RFC-51 CDC_DATA record in the table's supplemental-logging
    ``mode`` (HoodieCDCUtils: data_before_after, data_before, op_key_only)
    with JSON-string images."""

    def image(d):
        return None if d is None else json.dumps(d, default=str)

    if mode == "data_before_after":
        return {"op": op, "ts_ms": ts_ms, "before": image(before), "after": image(after)}
    rec = {"op": op, "record_key": key}
    if mode == "data_before":
        rec["before"] = image(before)
    return rec


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
            .json([os.path.join(self.hoodie_path, f"{i}.{a}") for i, a in instants])
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
        live, unmerged = self._live_slices(self._commits_df(instants))

        # MOR log plane — only when the timeline holds deltacommits at all
        # (a COW table pays nothing here; the instants list is driver-side)
        adjusted = F.lit(False)
        if view != "read_optimized" and any(a == "deltacommit" for _, a in instants):
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
            _instant_millis(F.col("instant")).alias("last_modified_millis"),
            F.from_json("stats_json", FILES_SCHEMA["column_stats"].dataType).alias(
                "column_stats"
            ),
        )

    def has_unmerged_logs(self, instant: Optional[str] = None) -> bool:
        """True when any file group carries log files newer than its base
        file (or log files with no base at all) — the state in which a
        base-file scan is stale and a target engine cannot reproduce the
        realtime view's netted counts by scanning parquet. Read from the
        commit files on the driver (``_file_group_states``)."""
        if not any(a == "deltacommit" for _, a in self.completed_instants(as_of=instant)):
            return False
        # cutoffs are strictly-before: the next millisecond's includes instant
        cut = None if instant is None else millis_to_instant(instant_to_millis(instant) + 1)
        groups = _file_group_states(self.table_path, [cut] if cut else ())[cut]
        return any(g["logs"] for g in groups.values())

    def _live_slices(self, commits: DataFrame) -> tuple[DataFrame, DataFrame]:
        """``(live, logs)`` of ``commits``, by the rules the driver replay
        ``_file_group_states`` applies: per file group the newest base
        stat ``(instant, file_id, rel_path, partition_path, size,
        record_count, stats_json)``, unless a replacecommit at or after it
        (any, for a log-only group) replaced the group, logs and all; and
        the live groups' logs newer than their base ``(log_instant,
        file_id, delta, base_instant)`` (``base_instant`` NULL: no base)."""
        exploded = commits.select(
            "instant", F.explode_outer("partitionToWriteStats").alias("partition", "stats")
        ).select("instant", "partition", F.explode("stats").alias("ws"))
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
        live = latest.join(
            F.broadcast(replaced),
            (latest.file_id == replaced.file_id) & (replaced.replace_instant >= latest.instant),
            "left_anti",
        )
        logs = exploded.filter(is_log).select(
            F.col("instant").alias("log_instant"),
            F.col("ws.fileId").alias("file_id"),
            (
                F.coalesce(F.col("ws.numInserts"), F.lit(0))
                - F.coalesce(F.col("ws.numDeletes"), F.lit(0))
            ).alias("delta"),
        ).join(
            latest.select("file_id", F.col("instant").alias("base_instant")),
            "file_id",
            "left_outer",
        )
        logs = logs.join(
            F.broadcast(replaced),
            (logs.file_id == replaced.file_id)
            & (F.col("base_instant").isNull() | (replaced.replace_instant >= F.col("base_instant"))),
            "left_anti",
        ).where(F.col("base_instant").isNull() | (F.col("log_instant") > F.col("base_instant")))
        return live, logs

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

    def _instants_in_range(
        self, from_instant: Optional[str], to_instant: Optional[str]
    ) -> list[tuple[str, str]]:
        """Completed commits in (from_instant, to_instant] — refusing when
        ``archive_timeline`` moved part of that range to
        ``.hoodie/archived/``: the active timeline alone would answer for
        only part of it."""

        def inside(i: str) -> bool:
            return (from_instant is None or i > from_instant) and (
                to_instant is None or i <= to_instant
            )

        active = self.completed_instants()
        archived_dir = os.path.join(self.hoodie_path, "archived")
        gone = sorted(
            parts[0]
            for parts in (
                f.split(".") for f in (
                    os.listdir(archived_dir) if os.path.isdir(archived_dir) else ()
                )
            )
            if len(parts) == 2 and parts[1] in COMMIT_ACTIONS and inside(parts[0])
        )
        if gone:
            raise ValueError(
                f"{self.table_path}: instants {gone[0]}..{gone[-1]} of the "
                "requested range are archived; the earliest active instant "
                f"is {active[0][0] if active else None} — start the range "
                f"at from_instant >= {gone[-1]}"
            )
        return [(i, a) for i, a in active if inside(i)]

    def _change_rows(
        self, from_instant: Optional[str], to_instant: Optional[str], cdc: bool = False
    ):
        """``(schema, key_fields, rows, cdc_work)`` of (from_instant,
        to_instant]: the typed change rows of the range's ``_change_plan``
        — the table columns plus ``kind``, ``_change_operation`` and
        ``_commit_instant`` — and, with ``cdc``, the plan's ``cdc`` work
        rows.

        Base and victim rows come from ONE ``session.tagged_rows`` scan
        over every such file in the range, joined to the work rows on
        ``_path`` (a file inserted at one instant and replaced at a later
        one yields both rows); log rows from ONE stage of the log-block
        decoder ``_log_changes``. The plan comes from the commit files on
        the driver, with no Spark job of its own, and the frame holds one
        Python operator however long the range."""
        props = self.table_properties()
        raw_schema = props.get("hoodie.table.schema")
        if not raw_schema:
            raise ValueError(f"{self.table_path}: table carries no schema")
        schema = T.StructType.fromJson(json.loads(raw_schema))
        key_fields = [k for k in props.get("hoodie.table.recordkey.fields", "").split(",") if k]
        commits = []
        for i, a in self._instants_in_range(from_instant, to_instant):
            with open(os.path.join(self.hoodie_path, f"{i}.{a}")) as fh:
                commits.append((i, json.load(fh)))
        work = _change_plan(self.table_path, commits, cdc)
        rows_schema = T.StructType(
            schema.fields
            + [
                T.StructField(c, T.StringType())
                for c in ("kind", "_change_operation", "_commit_instant")
            ]
        )
        frames = []
        files = [w for w in work if w[0] in ("base", "victim")]
        if files:
            frames.append(
                tagged_rows(self.spark, schema, sorted({p for _, p, _ in files}))
                .join(F.broadcast(_work_frame(self.spark, files)), "_path")
                .select(
                    *schema.fieldNames(),
                    "kind",
                    F.when(F.col("kind") == "base", "i").otherwise("d").alias("_change_operation"),
                    "_commit_instant",
                )
            )
        logs = [w for w in work if w[0] == "log"]
        if logs:

            def decode(batches):
                for pdf in batches:
                    for path, instant in zip(pdf["_path"], pdf["_commit_instant"]):
                        yield _log_changes(path, instant, schema, key_fields).assign(
                            kind="log", _commit_instant=instant
                        )

            frames.append(_work_frame(self.spark, logs).mapInPandas(decode, rows_schema))
        rows = (
            functools.reduce(DataFrame.unionByName, frames)
            if frames
            else local_rows_df(self.spark, [], rows_schema)
        )
        return schema, key_fields, rows, [w for w in work if w[0] == "cdc"]

    def changelog(
        self,
        from_instant: Optional[str] = None,
        to_instant: Optional[str] = None,
        identifier_fields: Optional[list[str]] = None,
    ) -> DataFrame:
        """ROW-LEVEL Hudi changelog (the third edge of the cross-format
        CDC triangle; siblings: ``DeltaLog.change_feed``,
        ``IcebergTable.changelog``): table rows + ``_change_operation``
        ('i'/'u'/'d' — Hudi's own CDC op vocabulary) +
        ``_commit_instant`` for every completed commit-type instant in
        (from_instant, to_instant].

        Per instant, by what its commit metadata proves (``_change_plan``,
        shared with ``cdc_feed`` and the row stream):

        - new BASE parquet with inserts → its rows as 'i';
        - MOR LOG files → their blocks WITH THIS INSTANT's header
          (``_log_changes``): AVRO_DATA upsert records decode through the
          byte-certified codec as 'u' (after-images — real Hudi CDC emits
          before images only with the supplemental cdc log, which
          external-registration tables don't carry); DELETE blocks as 'd'
          rows carrying the record key (other columns null — the key is
          all a Hudi delete record holds);
        - ``partitionToReplaceFileIds`` → the replaced groups' base-file
          rows just before the instant as 'd' (file-level derivation, the
          same fallback the Delta reader uses for remove-only commits);
        - operationType COMPACT / CLUSTER instants emit NOTHING — layout
          rewrites are not logical changes (compact_file_groups and the
          clustering planner stamp them accordingly).

        ``identifier_fields`` (the cross-format twin of
        ``IcebergTable.changelog``'s identifier-columns mode): when
        given, a same-key 'd'+'i' within one instant (the replace-commit
        upsert shape) pairs into ``update_preimage``/``update_postimage``
        — one extra shuffle on (instant, keys); keys assumed unique per
        instant. Log-block 'u' after-images are already updates and pass
        through unchanged.

        Plan (``_change_rows``): the range's commit files are read once
        on the driver, so building the frame runs no Spark job; base and
        replaced rows come from Spark's parquet scan, and the log decoder
        is the plan's one Python operator, whatever the range's length.

        A range reaching instants ``archive_timeline`` moved off the
        active timeline refuses with ValueError (``_instants_in_range``)
        rather than answering for part of it.
        """
        schema, _, rows, _ = self._change_rows(from_instant, to_instant)
        missing = [c for c in identifier_fields or () if c not in schema.fieldNames()]
        if missing:
            raise ValueError(
                f"{self.table_path}: identifier fields {missing} not in the table schema"
            )
        out = rows.drop("kind")
        if identifier_fields:
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
        """Hudi CDC QUERY (RFC-51 / ``hoodie.table.cdc.enabled``): the
        shape real Hudi's ``hoodie.datasource.query.incremental.format
        =cdc`` read returns (CDCRelation.FULL_CDC_SPARK_SCHEMA): one row
        per changed record with ``op`` ('i'/'u'/'d'), ``ts_ms`` (commit
        epoch millis as string) and ``before``/``after`` images as JSON
        strings.

        Per write stat, by RFC-51's inference cases, from the same plan
        and rows as ``changelog`` (``_change_rows``):

        - a supplemental ``-cdc`` log file (advertised by its write
          stat's ``cdcStats`` — what ``upsert_records`` authors when the
          table property is on) is AUTHORITATIVE and stands for its stat:
          its CDC_DATA block decodes verbatim through the byte-certified
          codec, EXACT before-images included;
        - a new base file with inserts → RFC-51's BASE_FILE_INSERT
          inference: its rows as op='i', after-image only;
        - data log files → 'u' after-images and DELETE-block 'd' rows
          with a key-only before image — the same documented inference
          limit as ``changelog()``;
        - replaced file groups → 'd' with the prior rows as FULL before
          images; operationType COMPACT/CLUSTER instants emit nothing.

        The inferred legs render their images with Spark's ``to_json``,
        so the 'i', 'u' and 'd' images of one key agree in type; the
        authoritative leg is the writer's JSON, verbatim — consumers
        extract fields, not bytes. Its plan holds two Python operators:
        the log decoder and the cdc-block decoder. A range reaching
        archived instants refuses, as in ``changelog``.
        """
        out_schema = T.StructType(
            [T.StructField(c, T.StringType()) for c in ("op", "ts_ms", "before", "after")]
        )
        schema, key_fields, rows, cdc_work = self._change_rows(from_instant, to_instant, cdc=True)
        opts = {"ignoreNullFields": "false"}
        image = F.to_json(F.struct(*schema.fieldNames()), opts)
        key_image = F.to_json(F.struct(*key_fields), opts) if key_fields else F.lit(None)
        op = F.col("_change_operation")
        out = rows.select(
            op.alias("op"),
            _instant_millis(F.col("_commit_instant")).cast("string").alias("ts_ms"),
            F.when(op == "d", F.when(F.col("kind") == "log", key_image).otherwise(image))
            .alias("before"),
            F.when(op != "d", image).alias("after"),
        )
        if cdc_work:

            def read_cdc(batches):
                import pandas as pd

                from onetable_spark.formats.hudi_log import avro_block_records

                for pdf in batches:
                    recs = []
                    for path, instant in zip(pdf["_path"], pdf["_commit_instant"]):
                        ts_ms = str(instant_to_millis(instant))
                        for b in _instant_blocks(path, instant):
                            if b["type"] == "cdc_data":
                                recs += [
                                    {
                                        "op": r.get("op"),
                                        "ts_ms": r.get("ts_ms") or ts_ms,
                                        "before": r.get("before"),
                                        "after": r.get("after"),
                                    }
                                    for r in avro_block_records(b, decode=True)[1]
                                ]
                    yield pd.DataFrame(recs, columns=out_schema.fieldNames())

            out = out.unionByName(
                _work_frame(self.spark, cdc_work).mapInPandas(read_cdc, out_schema)
            )
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

    def _markers(self, instant: str, action: str) -> list[str]:
        """The requested and inflight markers of ``instant``."""
        return [
            os.path.join(self.hoodie_path, f"{instant}.{action}.requested"),
            os.path.join(
                self.hoodie_path,
                # COW commit inflight has no action infix (Hudi timeline
                # quirk); deltacommit/replacecommit inflights carry it
                f"{instant}.inflight" if action == "commit" else f"{instant}.{action}.inflight",
            ),
        ]

    def _begin(self, action: str) -> str:
        """Claim an instant and mark it inflight — the first two steps of
        the requested→inflight→completed lifecycle every writer walks."""
        instant, _ = self._claim_instant(action)
        open(self._markers(instant, action)[1], "w").close()
        return instant

    def _abandon(self, instant: str, action: str, written=()) -> None:
        """Take back a claimed ``instant`` that a refusal stops before it
        completes: delete the files it wrote (table-relative ``written``)
        and its markers, so no pending instant stays on the timeline."""
        prefix = self.table_path.rstrip("/") + "/"
        for p in [prefix + w for w in written] + self._markers(instant, action):
            if os.path.exists(p):
                os.remove(p)

    @contextmanager
    def _refusing_keyless_rows(self, instant: str, action: str):
        """Re-raise a ``_required_key`` task failure as ValueError, first
        abandoning ``instant``: the key is computed before any log or base
        file is written, so the refusal leaves the table as it was."""
        from pyspark.errors.exceptions.captured import CapturedException

        try:
            yield
        except CapturedException as e:
            if _NO_KEY not in str(e):
                raise
            self._abandon(instant, action)
            raise ValueError(
                f"{self.table_path}: {_NO_KEY} — a NULL or empty single-field key, "
                "or a composite key whose parts are all NULL or empty"
            ) from None

    def _emit_commit(self, instant: str, action: str, stat_pairs, meta: dict) -> None:
        """Complete ``instant``: write its commit JSON and rename it into
        place. ``stat_pairs`` yields ``(partition_path, write-stat JSON)``
        in partition-path order; they stream to the OS buffer as they
        arrive, so ``partitionToWriteStats`` is never held whole — only
        the bounded ``meta`` keys are json.dump'd."""
        completed = os.path.join(self.hoodie_path, f"{instant}.{action}")
        tmp = completed + ".tmp"
        with open(tmp, "w") as f:
            f.write('{"partitionToWriteStats": {')
            current_pp: str | None = None
            for pp, stat_str in stat_pairs:
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

    def _emit_stat_rows(
        self, instant: str, action: str, rows: list[dict], operation: str
    ) -> str:
        """Complete ``instant`` from driver-held stat rows (``_STAT_ROWS``
        shape) — what the log author, the compaction merge and the insert
        walk return."""
        pairs = sorted(
            ((r["partition_path"] or "", json.dumps(_write_stat(r))) for r in rows),
            key=lambda p: p[0],
        )
        self._emit_commit(
            instant,
            action,
            pairs,
            {
                "compacted": operation == "COMPACT",
                "operationType": operation,
                "extraMetadata": {},
            },
        )
        return instant

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
        instant = self._begin(action)

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
        # streams separately in the emitter
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
        table_prefix = self.table_path.rstrip("/") + "/"

        def _stat_json(rel: str, pp: str, record_count, size, column_stats) -> str:
            """One write-stat entry as a JSON string — shared by the
            driver loop (small commits) and the executor batches (large
            commits); pure function so both paths serialize identically.
            FILES_SCHEMA adds model pure inserts (external registration)."""
            n = record_count or 0
            return json.dumps(
                _write_stat(
                    {
                        "file_id": _file_id_for(rel),
                        "rel_path": rel,
                        "prev_commit": "null",
                        "num_writes": n,
                        "num_inserts": n,
                        "num_deletes": 0,
                        "num_updates": 0,
                        "size": size or 0,
                        "partition_path": pp,
                    },
                    json.dumps([dict(s) for s in column_stats]) if column_stats else None,
                )
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
            if sorted_adds is None:
                return
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

        self._emit_commit(instant, action, _stat_pairs(), meta)
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

    # ------------------------------------------------- log and merge writers

    def _file_slices(self) -> list[dict]:
        """The live file slices of the active timeline
        (``_file_group_states``), each ``{path, file_id, partition_path,
        base_instant, logs}`` with absolute paths — the base file (None
        for a group holding only log files) and the group's log files
        newer than it, in instant order: what the log writers attach to
        and compaction merges. Read from the commit files on the driver,
        with no Spark job."""
        prefix = self.table_path.rstrip("/") + "/"
        return [
            {
                "path": prefix + g["rel"] if g["rel"] is not None else None,
                "file_id": fid,
                "partition_path": g["partition_path"] or "",
                "base_instant": g["instant"],
                "logs": [prefix + p for p in g["logs"]],
            }
            for fid, g in _file_group_states(self.table_path)[None].items()
        ]

    def _cdc_mode(self) -> Optional[str]:
        """The supplemental-logging mode of a ``hoodie.table.cdc.enabled``
        table (RFC-51), else None."""
        props = self.table_properties()
        if props.get("hoodie.table.cdc.enabled", "false") != "true":
            return None
        return props.get("hoodie.table.cdc.supplemental.logging.mode", "data_before_after")

    def _author_logs(
        self, rows: DataFrame, slices: dict[str, dict], instant: str,
        kf: list[str], schema: T.StructType, cdc_mode: Optional[str], deletes: bool,
    ):
        """The one log author: ``rows`` (``_key``, ``_path``, ``_b_<col>``
        before-images on a cdc table, and the record columns for an
        upsert) grouped by base file, each group written as ONE log file
        on its file group (``slices``: base path → ``_file_slices`` entry,
        looked up on the executor) — an AVRO_DATA block of
        the records, or with ``deletes`` a DELETE block of the keys
        (HoodieDeleteBlock V3, byte layout pinned against real Hudi-0.14).
        On a cdc table (``cdc_mode``) each group also gets a ``-cdc`` log whose CDC_DATA
        block carries op 'u'/'d' records with before-images from the
        merged file slice (``_merge_slice`` over the base rows and the
        group's earlier log blocks) and the after-images. An upserted key
        that the group's earlier log blocks deleted is an insert again:
        it counts in ``numInserts`` (op 'i'), not ``numUpdateWrites``, so
        the realtime view nets it back; only groups with log files (or a
        cdc table) pay for that merge.

        The stage is side-effecting (the log-version probe makes a rerun
        append ``.log.2`` orphans), so it runs in ONE action: collected
        as an Arrow table, one ``_STAT_ROWS`` row per file group, with the
        keys it wrote in ``matched``."""
        from pyspark.sql.pandas.types import to_arrow_schema

        from onetable_spark.formats.avro_schema import structtype_to_avro
        from onetable_spark.formats.hudi_log import logical_fields

        cols = schema.fieldNames()
        avro_schema = structtype_to_avro(schema, name="record")
        # date / timestamp columns reach the log writer as Python values;
        # the Avro datum carries them as epoch ints
        logical = logical_fields(avro_schema)
        tz = self.spark.conf.get("spark.sql.session.timeZone")
        table_prefix = self.table_path.rstrip("/") + "/"
        out_schema = to_arrow_schema(_STAT_ROWS)
        ts_ms = str(instant_to_millis(instant))

        def author(_key, tbl):
            import pyarrow as pa

            from onetable_spark.formats.hudi_log import (
                encode_logical,
                write_avro_log_block,
                write_cdc_log_block,
                write_delete_log_block,
            )

            rows_ = tbl.to_pylist()
            g = slices[rows_[0]["_path"]]
            path, file_id, pp = g["path"], g["file_id"], g["partition_path"]
            stem = os.path.join(os.path.dirname(path), f".{file_id}_{g['base_instant']}.log.")
            version = 1
            while os.path.exists(f"{stem}{version}_0-0-0"):
                version += 1
            lp = f"{stem}{version}_0-0-0"
            keys = [r["_key"] for r in rows_]
            records = [None] * len(rows_) if deletes else [{c: r[c] for c in cols} for r in rows_]
            if deletes:
                write_delete_log_block(
                    lp,
                    [{"recordKey": k, "partitionPath": pp, "orderingVal": None} for k in keys],
                    instant,
                    append=False,
                )
            else:
                datums = [encode_logical(r, logical, tz) for r in records] if logical else records
                write_avro_log_block(lp, datums, avro_schema, instant, append=False)
            before = None
            if cdc_mode or (g["logs"] and not deletes):
                # the merged file slice: a cdc table's before-images, and
                # which matched keys the group's earlier log blocks deleted
                base = (
                    tbl.select([f"_b_{c}" for c in cols]).rename_columns(cols)
                    if cdc_mode
                    else tbl.select(kf)
                )
                merged = _merge_slice(base, g["logs"], kf, tz)
                before = dict(zip(_record_keys(merged, kf, tz).to_pylist(), merged.to_pylist()))
            # an upserted key the slice no longer holds is an insert again
            inserts = 0 if deletes or before is None else sum(k not in before for k in keys)
            cdc_path = cdc_size = None
            if cdc_mode:
                cp = lp + "-cdc"
                write_cdc_log_block(
                    cp,
                    [
                        _cdc_record(
                            "d" if deletes else "u" if k in before else "i",
                            k, before.get(k), after, cdc_mode, ts_ms,
                        )
                        for k, after in zip(keys, records)
                    ],
                    instant,
                    mode=cdc_mode,
                )
                cdc_path, cdc_size = cp[len(table_prefix):], os.path.getsize(cp)
            n = len(rows_)
            return pa.Table.from_pylist(
                [
                    {
                        "rel_path": lp[len(table_prefix):],
                        "file_id": file_id,
                        "partition_path": pp,
                        "prev_commit": g["base_instant"],
                        "num_writes": 0 if deletes else n,
                        "num_inserts": inserts,
                        "num_updates": 0 if deletes else n - inserts,
                        "num_deletes": n if deletes else 0,
                        "size": os.path.getsize(lp),
                        "cdc_path": cdc_path,
                        "cdc_size": cdc_size,
                        "matched": keys,
                    }
                ],
                schema=out_schema,
            )

        with self._refusing_keyless_rows(instant, "deltacommit"):
            return rows.groupBy("_path").applyInArrow(author, _STAT_ROWS).toArrow()

    def _scan_slices(
        self, paths: list[str], kf: list[str], schema: T.StructType, before_images: bool
    ) -> DataFrame:
        """The rows of the given base files through Spark's parquet scan
        (``session.tagged_rows``: ``_path``, ``_pos``), keyed by
        ``_record_key``; with ``before_images`` (a cdc table) every column
        rides along as ``_b_<col>``."""
        read = T.StructType([f for f in schema.fields if before_images or f.name in kf])
        return tagged_rows(self.spark, read, paths).select(
            _record_key(kf).alias("_key"),
            "_path",
            "_pos",
            *[F.col(c).alias(f"_b_{c}") for c in (schema.fieldNames() if before_images else [])],
        )

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
        Hudi deletes are KEY-based, not positional: Spark's parquet scan
        reads the affected base files tagged with ``_metadata.row_index``,
        a semi-join keeps the deleted positions, and the record key comes
        from the one key Column (``_record_key``). The log author
        (``_author_logs``) then writes one log file per file group holding
        a single DELETE block. The deltacommit's write-stats carry
        ``numDeletes`` so the realtime view
        (``snapshot_files(view='realtime')``) nets exactly these rows, and
        ``verify_log_stats`` can re-derive the count from the bytes. A
        real Hudi reader merges the same blocks by key. Jobs: one collect
        of the position count per deleted path (the dangling-position
        guard) and the author stage. A file whose DELETE block carries
        fewer rows than it was given positions — a position past its end,
        a repeated one, or a path spelled otherwise than the scan reports
        it — refuses with ValueError, and its log files and the claimed
        instant are removed.

        Keys come from ``hoodie.table.recordkey.fields`` (populated from
        the source's identifier fields on sync), encoded as Hudi's
        KeyGenUtils does (``_record_key``); a deleted row with no key
        refuses with ValueError, as does a table with no record-key
        fields — a DELETE block is inexpressible without keys, and so do
        float/double key fields (``_refuse_float_keys``). Returns the
        deltacommit instant.

        Reference contrast: the reference never writes (or reads) log
        files at all — a Hudi target there receives net counts only
        (HudiDataFileExtractor.java:344-363 lists base files only).

        RFC-51 (r14): on a cdc-enabled table each file group's delete
        also authors a ``-cdc`` log (op='d' records carrying the FULL
        before image of every deleted row, from the same scan with the
        group's earlier log blocks applied), advertised via cdcStats —
        ``cdc_feed`` then serves exact delete before-images instead of
        the key-only inference.
        """
        desc = self.table_descriptor()
        kf = list(key_fields or desc.record_key_fields)
        if not kf:
            raise ValueError(
                f"{self.table_path}: no record-key fields configured "
                "(hoodie.table.recordkey.fields is empty) — Hudi DELETE "
                "log blocks identify rows by key; cannot translate "
                "position deletes into a keyless table"
            )
        if not self.completed_instants():
            raise ValueError(
                f"{self.table_path}: no completed commits — delete logs "
                "attach to existing base file groups"
            )
        _refuse_float_keys(self.table_path, desc.read_schema, kf)
        by_path = {g["path"]: g for g in self._file_slices() if g["path"]}
        # per affected file, the rows its DELETE block must carry; every
        # deleted path must be a live base file — a DELETE block for an
        # unknown file group would dangle
        # driver-ok: one row per affected file
        wanted = dict(positions.groupBy("path").count().collect())
        dangling = [p for p in wanted if p not in by_path]
        if dangling:
            raise ValueError(
                f"{len(dangling)} deleted path(s) match no live base file "
                "group — positions must target this table's base files"
            )
        cdc_mode = self._cdc_mode()
        instant = self._begin("deltacommit")
        rows = self._scan_slices(list(wanted), kf, desc.read_schema, cdc_mode is not None).join(
            positions.select(F.col("path").alias("_path"), F.col("pos").alias("_pos")),
            ["_path", "_pos"],
            "left_semi",
        ).withColumn("_key", _required_key(F.col("_key"), kf))
        stats = self._author_logs(
            rows, {p: by_path[p] for p in wanted}, instant, kf, desc.read_schema, cdc_mode,
            deletes=True,
        ).drop_columns(["matched"]).to_pylist()
        # the scan must find a row at every requested position: a position
        # past the file's end, a repeated one, or a path spelled otherwise
        # than the scan's would leave rows the realtime view still shows
        got = {r["file_id"]: r["num_deletes"] for r in stats}
        short = [p for p, n in wanted.items() if got.get(by_path[p]["file_id"], 0) != n]
        if short:
            self._abandon(
                instant,
                "deltacommit",
                [w for r in stats for w in (r["rel_path"], r["cdc_path"]) if w],
            )
            raise ValueError(
                f"{len(short)} deleted path(s) (first: {short[0]}) have positions "
                "the base file holds no distinct row at — out of range, repeated, "
                "or under a path spelled otherwise than the scanned file's"
            )
        return self._emit_stat_rows(instant, "deltacommit", stats, "DELETE")

    def upsert_records(self, df: DataFrame) -> str:
        """Hudi MOR KEYED UPSERT (r12) — the third format's edge of the
        upsert triangle (Delta: ``upsert_by_key`` via deletion vectors;
        Iceberg: ``commit_upsert`` via equality deletes). Incoming
        records are TAGGED against the live base files by record key —
        Spark's parquet scan reads the base files' key columns once
        (``_scan_slices``; the read real Hudi's SimpleIndex does) and one
        join matches them. Records whose key already lives somewhere
        become ONE AVRO_DATA log block on that file group, written by the
        log author (``_author_logs``), which returns the keys it matched;
        the byte layout is what the real MOR reader and
        ``compact_file_groups`` merge by key, and the realtime view's
        updates-net-zero arithmetic holds because the stat carries
        numUpdateWrites, not numInserts. The remaining records — the
        batch anti-joined against those keys — land in a fresh base
        parquet, a new file group (a zero-row output file registers
        nothing). One deltacommit carries both, emitted from the rows the
        driver already holds. Source keys are assumed unique per batch
        (real Hudi precombines; we document rather than dedupe).

        Record keys follow Hudi's KeyGenUtils (``_record_key``): a NULL
        composite part is ``__null__``, an empty one ``__empty__``; a
        record with no key (a NULL or empty single field, or a composite
        whose parts are all NULL or empty) refuses with ValueError and
        leaves no pending instant; float/double key fields refuse
        (``_refuse_float_keys``).

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
        desc = self.table_descriptor()
        kf = list(desc.record_key_fields)
        if not kf:
            raise ValueError(
                f"{self.table_path}: no record-key fields configured — "
                "keyed upserts are inexpressible on a keyless table"
            )
        _refuse_float_keys(self.table_path, desc.read_schema, kf)
        cols = [f.name for f in desc.read_schema.fields]
        keyed = df.select(*cols).withColumn("_key", _required_key(_record_key(kf), kf))
        slices = {g["path"]: g for g in self._file_slices() if g["path"]}
        cdc_mode = self._cdc_mode()
        instant = self._begin("deltacommit")
        stats: list[dict] = []
        if slices:
            import pyarrow as pa
            import pyarrow.compute as pc

            base = self._scan_slices(list(slices), kf, desc.read_schema, cdc_mode is not None)
            written = self._author_logs(
                keyed.join(base.drop("_pos"), "_key"), slices, instant, kf, desc.read_schema,
                cdc_mode, deletes=False,
            )
            stats = written.drop_columns(["matched"]).to_pylist()
            matched = pa.table({"_key": pc.list_flatten(written.column("matched"))})
            keyed = keyed.join(
                F.broadcast(self.spark.createDataFrame(matched)), "_key", "left_anti"
            )
        with self._refusing_keyless_rows(instant, "deltacommit"):
            # the filter evaluates the key, so a keyless record refuses
            # here too on a table with no base file yet
            stats += self._write_inserts(
                keyed.where(F.col("_key").isNotNull()).select(*cols),
                desc.partition_fields,
                instant,
            )
        return self._emit_stat_rows(instant, "deltacommit", stats, "UPSERT")

    def _write_inserts(self, rows: DataFrame, pfs, instant: str) -> list[dict]:
        """Write ``rows`` as fresh base parquet, each emitted file its own
        file group in its hive partition dir; returns their stat rows. A
        file with no rows is deleted and registers nothing."""
        import shutil

        import pyarrow.parquet as pq

        from onetable_spark.schema.partitions import transform_column

        table_path = self.table_path
        scratch = os.path.join(table_path, f"_upsert_{uuid.uuid4().hex[:12]}")
        pcols = []
        for pf in pfs:
            # __pp_-prefixed duplicates: partitionBy consumes its
            # column, and Hudi data files keep the ORIGINAL field
            rows = rows.withColumn(f"__pp_{pf.name}", transform_column(pf).cast("string"))
            pcols.append(f"__pp_{pf.name}")
        out = []
        try:
            if pcols:
                rows.write.partitionBy(*pcols).parquet(scratch)
            else:
                rows.coalesce(1).write.parquet(scratch)
            # walk is O(touched partitions) — the commit payload, not the table
            for root_, _dirs, files_ in os.walk(scratch):
                segs = [s for s in os.path.relpath(root_, scratch).split(os.sep) if "=" in s]
                pp = "/".join(s.replace("__pp_", "", 1) for s in segs)
                for fname in files_:
                    if not fname.endswith(".parquet"):
                        continue
                    src = os.path.join(root_, fname)
                    n = pq.read_metadata(src).num_rows
                    if not n:
                        continue
                    d = os.path.join(table_path, pp) if pp else table_path
                    os.makedirs(d, exist_ok=True)
                    new_name = f"{uuid.uuid4().hex[:8]}-0_0-0-0_{instant}.parquet"
                    os.replace(src, os.path.join(d, new_name))
                    rel = f"{pp}/{new_name}" if pp else new_name
                    out.append(
                        {
                            "rel_path": rel,
                            "file_id": _file_id_for(rel),
                            "partition_path": pp,
                            "prev_commit": "null",
                            "num_writes": n,
                            "num_inserts": n,
                            "size": os.path.getsize(os.path.join(d, new_name)),
                        }
                    )
        finally:
            shutil.rmtree(scratch, ignore_errors=True)
        return out

    def compact_file_groups(self) -> Optional[str]:
        """MOR COMPACTION (r12): merge every file group's unmerged log
        blocks into a NEW base parquet — the data-plane materialization
        that closes the realtime-view gap. After this, base files alone
        carry the merged rows, the default view reads clean (no unmerged
        logs), and a Delta/Iceberg target synced from them is honest at
        the ROW level, not just in netted counts.

        Semantics per file group: ``_merge_slice``, the same merge that
        gives the log author its cdc before-images — blocks applied in
        instant order, AVRO_DATA records UPSERT by record key (insert new
        keys, replace existing — matching the realtime view's
        inserts-net/updates-zero arithmetic) or plain-append on a keyless
        table; DELETE blocks drop rows by record key; HFILE/PARQUET
        blocks refuse (no byte decoder — never silently drop rows). The
        new base file keeps its file group's id
        (``{fileId}_0-0-0_{instant}.parquet``, HoodieBase file naming) so
        the timeline window supersedes the old slice and time travel
        still sees it. The slices come off the commit files on the driver
        (``_file_slices``); one ``mapInArrow`` pass merges one file group
        per task — the same parallelism real compaction gets — and is
        collected once as Arrow into the commit. The merge is columnar:
        the base rows stay an Arrow table, and only the decoded log
        records pass through Python.

        Returns the compaction commit instant, or None when nothing needs
        merging. Reference contrast: the reference has no compaction (or
        any log plane); it would keep reading the stale base files
        (HudiDataFileExtractor.java:157)."""
        from pyspark.sql.pandas.types import to_arrow_schema

        if not self.completed_instants():
            return None
        slices = self._file_slices()
        if any(g["path"] is None for g in slices):
            raise ValueError(
                f"{self.table_path}: MOR file group holds ONLY log files "
                "(no base file to merge into); cannot compact"
            )
        todo = [g for g in slices if g["logs"]]
        if not todo:
            return None
        import pyarrow as pa

        desc = self.table_descriptor()
        kf = list(desc.record_key_fields)
        # Spark-written INT96 timestamps read back as timestamp[ns]; the
        # merged file carries them as Spark's own types (microseconds,
        # UTC-adjusted for ``timestamp``, local for ``timestamp_ntz``),
        # which Spark reads back — nanoseconds it cannot
        stamps = {
            f.name: f.type
            for f in to_arrow_schema(desc.read_schema)
            if pa.types.is_timestamp(f.type)
        }
        tz = self.spark.conf.get("spark.sql.session.timeZone")
        prefix = self.table_path.rstrip("/") + "/"
        out_schema = to_arrow_schema(_STAT_ROWS)
        instant = self._begin("commit")

        def merge(batches):
            import pyarrow.parquet as pq

            for batch in batches:
                out = []
                for g in batch.to_pylist():
                    merged = _merge_slice(pq.read_table(g["path"]), g["logs"], kf, tz)
                    for name, t in stamps.items():
                        if name in merged.column_names:
                            i = merged.column_names.index(name)
                            merged = merged.set_column(i, name, merged.column(i).cast(t))
                    new = os.path.join(
                        os.path.dirname(g["path"]),
                        f"{g['file_id']}_0-0-0_{instant}.parquet",
                    )
                    pq.write_table(merged, new)
                    out.append(
                        {
                            "rel_path": new[len(prefix):],
                            "file_id": g["file_id"],
                            "partition_path": g["partition_path"],
                            "prev_commit": g["base_instant"],
                            "num_writes": merged.num_rows,
                            "size": os.path.getsize(new),
                        }
                    )
                yield pa.RecordBatch.from_pylist(out, schema=out_schema)

        frame = local_rows_df(
            self.spark,
            [tuple(g.values()) for g in todo],
            "path string, file_id string, partition_path string, "
            "base_instant string, logs array<string>",
            slices=len(todo),
        )
        stats = frame.mapInArrow(merge, _STAT_ROWS).toArrow().to_pylist()
        return self._emit_stat_rows(instant, "commit", stats, "COMPACT")

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
    ``_record_key`` encodes), its ``__null__``/``__empty__`` placeholders
    mapped back to NULL and empty. Unparseable
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
                parts[f] = {_NULL_PART: None, _EMPTY_PART: ""}.get(v, v)
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


def _file_group_states(
    table_path: str, cutoffs=()
) -> dict[Optional[str], dict[str, dict]]:
    """PURE-PYTHON replay of the active timeline's file groups, in ONE
    forward walk over the timeline's own JSON files (metadata only; no
    data file is read, no SparkSession needed). For each requested cutoff
    instant the groups live strictly BEFORE it, and under the key ``None``
    the groups live after the whole timeline: fileId → ``{rel,
    partition_path, instant, logs}`` — the latest base slice (``rel`` None
    for a group holding only log files), the instant that wrote it, and
    the relative paths of the group's log files newer than it in instant
    order. Groups replaced at a later-or-equal replacecommit are gone;
    rollback/restore undo applies incrementally. The same rules as
    ``HudiTimeline._live_slices`` (``snapshot_files``), so the
    writers and the change planner (``_change_plan``, also inside a
    STREAMING task) resolve the same slices as the Spark replay. Serving
    all of a range's R replace instants from one walk keeps it
    O(timeline + R·groups) instead of O(R·timeline) on a clustering-heavy
    backfill."""
    hoodie = os.path.join(table_path, ".hoodie")
    events = []
    for f in os.listdir(hoodie):
        parts = f.split(".")
        if len(parts) == 2 and parts[1] in COMMIT_ACTIONS + UNDO_ACTIONS:
            events.append((parts[0], parts[1]))
    events.sort()
    cutoffs = sorted(set(cutoffs))
    out: dict[Optional[str], dict[str, dict]] = {}
    # adds[fid] = {instant: (rel, partition)}; logs[fid] = {instant:
    # [rel]}; repl[fid] = {replace instants} — keyed per instant so a
    # rollback can surgically remove one commit's contributions mid-walk
    adds: dict[str, dict[str, tuple]] = {}
    logs: dict[str, dict[str, list]] = {}
    repl: dict[str, set[str]] = {}

    def snapshot() -> dict[str, dict]:
        live = {}
        for fid in adds.keys() | logs.keys():
            slices = adds.get(fid) or {}
            i_star = max(slices) if slices else None
            if any(i_star is None or r >= i_star for r in repl.get(fid, ())):
                continue
            rel, pp = slices[i_star] if slices else (None, None)
            group_logs = logs.get(fid) or {}
            if rel is None and not group_logs:
                continue
            live[fid] = {
                "rel": rel,
                "partition_path": pp,
                "instant": i_star,
                "logs": [
                    p
                    for i in sorted(group_logs)
                    if i_star is None or i > i_star
                    for p in group_logs[i]
                ],
            }
        return live

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
            for per_instant in (*adds.values(), *logs.values()):
                for u in undone:
                    per_instant.pop(u, None)
            for rset in repl.values():
                rset -= undone
            continue
        for stats in (meta.get("partitionToWriteStats") or {}).values():
            for s in stats or []:
                rel = s.get("path")
                if not rel:
                    continue
                fid = s.get("fileId") or _file_id_for(rel)
                if ".log." in rel:
                    logs.setdefault(fid, {}).setdefault(i, []).append(rel)
                else:
                    adds.setdefault(fid, {})[i] = (rel, s.get("partitionPath"))
        for ids in (meta.get("partitionToReplaceFileIds") or {}).values():
            for fid in ids or []:
                repl.setdefault(fid, set()).add(i)
    flush_until(None)
    out[None] = snapshot()
    return out


def _change_plan(table_path: str, commits, cdc: bool = False) -> list[tuple[str, str, str]]:
    """The one Hudi change planner behind ``changelog``, ``cdc_feed`` and
    the row stream — HudiDataFileExtractor.java:126-255's per-action
    dispatch. ``commits``, ``(instant, commit JSON)`` pairs each read
    once, become ``(kind, path, instant)`` work rows with absolute paths:

    - ``base``: a new base parquet with inserts;
    - ``log``: a data log file (the reader takes its blocks with this
      instant's header);
    - ``victim``: the base file of a group a replacecommit replaced, as
      it stood just before the instant — ``_file_group_states``, one walk
      for every replace instant, keyed on the write stat's own fileId, so
      the ``{fileId}_…`` base file compaction wrote is found too;
    - ``cdc`` (only with ``cdc``): a supplemental ``-cdc`` log, which then
      stands for the write stat that advertises it.

    COMPACT and CLUSTER instants rewrite layout, not rows: they plan
    nothing. Pure Python over the commit files: no Spark job, no
    SparkSession, so a streaming task plans with it too."""
    commits = [(i, m) for i, m in commits if m.get("operationType") not in ("COMPACT", "CLUSTER")]
    replaced = {
        i: sorted(
            {f for ids in (m.get("partitionToReplaceFileIds") or {}).values() for f in ids or []}
        )
        for i, m in commits
    }
    need = [i for i, fids in replaced.items() if fids]
    states = _file_group_states(table_path, need) if need else {}
    prefix = table_path.rstrip("/") + "/"

    def absolute(rel: str) -> str:
        if "://" in rel:
            return rel
        return os.path.abspath(rel if rel.startswith("/") else prefix + rel)

    work = []
    for i, meta in commits:
        for fid in replaced[i]:
            rel = states[i].get(fid, {}).get("rel")
            if rel:
                work.append(("victim", absolute(rel), i))
        for stats in (meta.get("partitionToWriteStats") or {}).values():
            for s in stats or []:
                rel = s.get("path") or ""
                if cdc and s.get("cdcStats"):
                    work += [("cdc", absolute(c), i) for c in s["cdcStats"]]
                elif rel.endswith(".parquet") and (s.get("numInserts") or 0) > 0:
                    work.append(("base", absolute(rel), i))
                elif ".log." in rel and not rel.endswith("-cdc"):
                    work.append(("log", absolute(rel), i))
    return work


def _work_frame(spark: SparkSession, work: list[tuple[str, str, str]]) -> DataFrame:
    """``_change_plan`` work rows as a ``(kind, _path, _commit_instant)``
    DataFrame, built from Arrow on the JVM side: no Python worker runs to
    turn them into Spark rows, as one would for ``local_rows_df``."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table(list(map(list, zip(*work))), names=["kind", "_path", "_commit_instant"])
    )


def _instant_blocks(path: str, instant: str) -> list[dict]:
    """The blocks of the log file ``path`` that ``instant`` wrote — a log
    file can hold several instants' blocks."""
    from onetable_spark.formats.hudi_log import read_log_blocks

    return [b for b in read_log_blocks(path) if b["headers"].get("instant_time") == instant]


def _log_changes(path: str, instant: str, schema: T.StructType, key_fields: list[str]):
    """The one log-block decoder of the change readers: the rows
    ``instant`` wrote to the log file ``path``, as a pandas frame of the
    table columns plus ``_change_operation``. AVRO_DATA records decode
    through the byte-certified codec to typed 'u' after-images; DELETE
    keys become 'd' rows whose key columns are typed back
    (``delete_key_frame``) and whose other columns are NULL. A DELETE
    block on a keyless table refuses: its rows are unidentifiable."""
    import pandas as pd

    from onetable_spark.formats.hudi_log import avro_block_records, delete_block_records

    names = schema.fieldNames()
    urows, dkeys = [], []
    for b in _instant_blocks(path, instant):
        if b["type"] == "avro_data":
            urows += avro_block_records(b, decode=True)[1]
        elif b["type"] == "delete":
            if not key_fields:
                raise ValueError(
                    f"{path}: DELETE block on a keyless table — rows are unidentifiable"
                )
            dkeys += [r.get("recordKey") for r in delete_block_records(b)[1]]
    frames = [pd.DataFrame(urows, columns=names).assign(_change_operation="u")]
    if dkeys:
        frames.append(
            delete_key_frame(dkeys, names, key_fields, _numeric_key_fields(schema, key_fields))
            .assign(_change_operation="d")
        )
    return pd.concat(frames, ignore_index=True) if urows and dkeys else frames[-1]


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


def _file_id_column(rel):
    """``_file_id_for`` of a base file's relative path as a Spark
    expression, so no Python stage derives it: uuid5 is the first 16
    bytes of SHA-1 over the URL-namespace bytes and the UTF-8 path, with
    the version nibble set to 5 and the variant bits to ``10``."""
    digest = F.sha1(F.concat(F.unhex(F.lit(uuid.NAMESPACE_URL.hex)), F.encode(rel, "UTF-8")))
    variant = F.conv(
        (F.conv(F.substring(digest, 17, 1), 16, 10).cast("int") % 4 + 8).cast("string"), 10, 16
    )
    return F.concat(
        F.substring(digest, 1, 12),
        F.lit("5"),
        F.substring(digest, 14, 3),
        F.lower(variant),
        F.substring(digest, 18, 15),
    )
