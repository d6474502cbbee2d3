"""Native Apache Iceberg v1 table implementation (no Iceberg runtime).

Implements the public Iceberg table spec (iceberg.apache.org/spec) in the
HadoopTables layout the reference uses (IcebergTableManager.java:52-85):

- ``metadata/v<N>.metadata.json`` + ``version-hint.text``;
- snapshots pointing at an Avro **manifest list**, which points at Avro
  **manifest files** whose entries carry the data-file descriptors
  (path, format, partition tuple, record count, size, per-field-id
  null counts and lower/upper bounds) — written with the pure-Python
  codec in ``avro_codec.py``;
- field-id-stable schema (IDs assigned by incrementing counter when
  absent, mirroring IcebergSchemaExtractor.java:143-165);
- commit = write new manifests + new metadata json + atomic version bump
  (optimistic: version-hint create-if-absent semantics);
- snapshot expiry (IcebergClient.java:219-227 parity).

Data-manifest decoding is distributed: executor tasks decode manifest
files via mapInPandas, so a table with thousands of manifests never
bottlenecks on the driver. Delete manifests (O(delete commits)) decode on
the driver, and row-level reads — changelog rows, position deletes and
equality matches — go through Spark's parquet scan.
"""

from __future__ import annotations

import json
import os
import struct
import time
import uuid
from collections.abc import Iterator
from typing import Any, NamedTuple, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from onetable_spark.formats.avro_codec import read_container, write_container
from onetable_spark.session import local_path, local_rows_df, tagged_rows
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

# ------------------------------------------------------------ schema convert


def structtype_to_iceberg(
    schema: T.StructType, next_id: int = 1, record_keys: tuple[str, ...] = ()
) -> tuple[dict, int]:
    """Spark StructType → Iceberg schema JSON with assigned field IDs.

    Field-id assignment parity: IcebergSchemaExtractor.java:143-165 (existing
    IDs in StructField.metadata['fieldId'] are honored, missing IDs assigned
    from an incrementing counter; the counter starts above every pre-assigned
    id so source-tracked ids — e.g. Hudi IdTracker injection — never collide
    with counter-assigned list/map/child ids).

    ``record_keys`` → ``identifier-field-ids``, but only when EVERY key
    field is a required top-level field (IcebergSchemaExtractor.java:69-99
    maps recordKeyFields to identifierFieldIds only if all keys are
    required; Iceberg rejects optional identifier fields)."""

    def _max_preassigned(st: T.StructType) -> int:
        m = 0
        for f in st.fields:
            m = max(m, (f.metadata or {}).get("fieldId") or 0)
            if isinstance(f.dataType, T.StructType):
                m = max(m, _max_preassigned(f.dataType))
        return m

    counter = [max(next_id, _max_preassigned(schema) + 1)]

    def assign() -> int:
        v = counter[0]
        counter[0] += 1
        return v

    def convert_field(field: T.StructField) -> dict:
        fid = (field.metadata or {}).get("fieldId") or assign()
        return {
            "id": fid,
            "name": field.name,
            "required": not field.nullable,
            "type": convert_type(field.dataType),
        }

    def convert_type(dt: T.DataType) -> Any:
        if isinstance(dt, T.StructType):
            return {"type": "struct", "fields": [convert_field(f) for f in dt.fields]}
        if isinstance(dt, T.ArrayType):
            return {
                "type": "list",
                "element-id": assign(),
                "element": convert_type(dt.elementType),
                "element-required": not dt.containsNull,
            }
        if isinstance(dt, T.MapType):
            return {
                "type": "map",
                "key-id": assign(),
                "key": convert_type(dt.keyType),
                "value-id": assign(),
                "value": convert_type(dt.valueType),
                "value-required": not dt.valueContainsNull,
            }
        if isinstance(dt, T.DecimalType):
            return f"decimal({dt.precision}, {dt.scale})"
        mapping = {
            T.BooleanType: "boolean",
            T.IntegerType: "int",
            T.ShortType: "int",
            T.ByteType: "int",
            T.LongType: "long",
            T.FloatType: "float",
            T.DoubleType: "double",
            T.StringType: "string",
            T.BinaryType: "binary",
            T.DateType: "date",
            T.TimestampType: "timestamptz",
            T.TimestampNTZType: "timestamp",
        }
        for klass, name in mapping.items():
            if isinstance(dt, klass):
                return name
        raise ValueError(f"unsupported Spark type for Iceberg: {dt}")

    fields = [convert_field(f) for f in schema.fields]
    out = {"type": "struct", "schema-id": 0, "fields": fields}
    if record_keys:
        by_name = {f["name"]: f for f in fields}
        keyed = [by_name.get(k) for k in record_keys]
        if all(f is not None and f["required"] for f in keyed):
            out["identifier-field-ids"] = [f["id"] for f in keyed]
    return out, counter[0]


def iceberg_to_structtype(ice: dict) -> T.StructType:
    """Iceberg schema JSON → Spark StructType (field IDs kept in metadata)."""

    def convert_type(t: Any) -> T.DataType:
        if isinstance(t, str):
            if t.startswith("decimal"):
                p, s = t[t.index("(") + 1 : -1].split(",")
                return T.DecimalType(int(p), int(s))
            simple = {
                "boolean": T.BooleanType(),
                "int": T.IntegerType(),
                "long": T.LongType(),
                "float": T.FloatType(),
                "double": T.DoubleType(),
                "string": T.StringType(),
                "binary": T.BinaryType(),
                "date": T.DateType(),
                "timestamp": T.TimestampNTZType(),
                "timestamptz": T.TimestampType(),
                "uuid": T.StringType(),
            }
            if t in simple:
                return simple[t]
            if t.startswith("fixed"):
                return T.BinaryType()
            raise ValueError(f"unsupported Iceberg type: {t}")
        if t["type"] == "struct":
            return T.StructType(
                [
                    T.StructField(
                        f["name"],
                        convert_type(f["type"]),
                        not f.get("required", False),
                        metadata={"fieldId": f["id"]},
                    )
                    for f in t["fields"]
                ]
            )
        if t["type"] == "list":
            return T.ArrayType(convert_type(t["element"]), not t.get("element-required", False))
        if t["type"] == "map":
            return T.MapType(
                convert_type(t["key"]),
                convert_type(t["value"]),
                not t.get("value-required", False),
            )
        raise ValueError(f"unsupported Iceberg type: {t}")

    return convert_type(ice)  # type: ignore[return-value]


def _flat_fields(ice_schema: dict) -> dict[str, int]:
    """Top-level field name → field id (for stats keyed by id)."""
    return {f["name"]: f["id"] for f in ice_schema["fields"]}


def _flatten_field_paths(fields: list[dict], prefix: str = "") -> dict[int, str]:
    """Field id → canonical DOT-PATH name, recursing into struct types
    (``a.b.c`` — the vocabulary IcebergSchemaExtractor.java:137-141 uses
    for nested columns). Fields nested under maps/lists are intentionally
    absent: they have no canonical row-wise identity for equality-delete
    matching."""
    out: dict[int, str] = {}
    for f in fields:
        name = prefix + f["name"]
        out[int(f["id"])] = name
        t = f.get("type")
        if isinstance(t, dict) and t.get("type") == "struct":
            out.update(_flatten_field_paths(t["fields"], name + "."))
    return out


def _read_leaf_columns(path: str, names: list[str]):
    """One pyarrow read of ``names`` (dot-paths allowed) as EXACTLY-named
    leaf columns. ``pq.read_table(columns=['a.b'])`` would rename the
    output to the bare leaf (collision-prone); dataset field refs keep
    the dotted name so merge keys stay unambiguous."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").to_table(
        columns={n: ds.field(*n.split(".")) for n in names}
    )


class _CountingEntries:
    """Single-use iterable that counts manifest entries and rows as
    ``write_container`` streams them to disk — the manifest-list row needs
    the totals AFTER the write, without ever holding the entry list."""

    def __init__(self, it) -> None:
        self._it = it
        self.count = 0
        self.rows = 0

    def __iter__(self):
        for e in self._it:
            self.count += 1
            self.rows += e["data_file"]["record_count"] or 0
            yield e


class _DeleteFile(NamedTuple):
    """One live delete file as its manifest entry describes it."""

    path: str
    seq: int
    content: int
    equality_ids: tuple[int, ...]
    record_count: int


def _delete_files(
    delete_manifests: list[dict],
    allow_equality: bool,
    cache: Optional[dict[str, list[_DeleteFile]]] = None,
) -> list[_DeleteFile]:
    """Every live delete file the given delete manifests reference,
    decoded on the driver: delete manifests are O(delete commits), and the
    scans that apply them need the file list there. Equality-delete
    entries refuse loudly unless ``allow_equality`` — applying them needs
    data rows. ``cache`` (manifest path → files) lets a chain walk decode
    each manifest once."""
    out: list[_DeleteFile] = []
    for m in delete_manifests:
        mp = m["manifest_path"]
        files = None if cache is None else cache.get(mp)
        if files is None:
            mseq = m.get("sequence_number", 0)
            files = []
            for e in read_container(mp)[1]:
                if e["status"] not in (STATUS_ADDED, STATUS_EXISTING):
                    continue
                df_ = e["data_file"]
                seq = e.get("sequence_number")
                files.append(
                    _DeleteFile(
                        df_["file_path"],
                        int(mseq if seq is None else seq),
                        int(df_.get("content", _CONTENT_POSITION_DELETES)),
                        tuple(sorted(int(i) for i in df_.get("equality_ids") or [])),
                        int(df_.get("record_count") or 0),
                    )
                )
            if cache is not None:
                cache[mp] = files
        for f in files:
            if f.content == _CONTENT_EQUALITY_DELETES and not allow_equality:
                raise ValueError(
                    f"{mp}: Iceberg v2 EQUALITY delete file {f.path} — "
                    "equality deletes cannot be applied from metadata "
                    "alone; refusing rather than resurrecting deleted rows "
                    "(pass apply_equality_deletes=True for the data-assisted "
                    "scan, or compact with rewrite_data_files)"
                )
        out += files
    return out


def _known(value, what: str):
    """``value``, failing the task where it is null: a scanned file whose
    path does not fold back to its manifest entry's would otherwise match
    no delete at all and pass for live."""
    return F.coalesce(value, F.raise_error(F.lit(f"Iceberg scan: {what}")))


def _join_deletes(
    rows: DataFrame, source: tuple[DataFrame, Optional[list[str]]], how: str
) -> DataFrame:
    """Join ``_path``/``_pos``/``_seq``-tagged data rows against one
    ``IcebergTable._delete_sources`` frame under the spec's sequence rule:
    a position delete applies at delete_seq >= data_seq, an equality
    delete (null-safe on every key column) only at delete_seq > data_seq."""
    frame, names = source
    if names is None:
        cond = (
            (F.col("_path") == F.col("_dpath"))
            & (F.col("_pos") == F.col("_dpos"))
            & (F.col("_dseq") >= F.col("_seq"))
        )
    else:
        cond = F.col("_dseq") > F.col("_seq")
        for j, n in enumerate(names):
            cond = cond & F.col(n).eqNullSafe(F.col(f"_k{j}"))
    return rows.join(frame, cond, how)


def _killed(rows: DataFrame, sources: list) -> DataFrame:
    """The rows at least one delete source kills, each once: source i
    takes only the rows no earlier source killed."""
    out = None
    for i, src in enumerate(sources):
        part = _join_deletes(rows, src, "left_semi")
        for prev in sources[:i]:
            part = _join_deletes(part, prev, "left_anti")
        out = part if out is None else out.unionByName(part)
    return out


def _surviving(rows: DataFrame, sources: list) -> DataFrame:
    """The rows no delete source kills."""
    for src in sources:
        rows = _join_deletes(rows, src, "left_anti")
    return rows


def _avro_partition(
    pvals: dict, spec: list[dict], avro_part_types: dict[str, str]
) -> dict:
    """Stringified partition values → the typed avro struct a manifest
    entry carries, following the spec's transform result types (shared by
    data-file entries and r12's partition-scoped delete entries)."""
    partition = {}
    for p in spec:
        pname = p["name"]
        raw = pvals.get(pname)
        if raw is None:
            partition[pname] = None
            continue
        avro_t = avro_part_types.get(pname, "string")
        if avro_t in ("int", "long"):
            try:
                partition[pname] = int(raw)
            except ValueError:
                partition[pname] = None
        elif avro_t in ("float", "double"):
            # same malformed-string tolerance as the int/long branch — one
            # bad stringified value must not abort manifest authoring
            try:
                partition[pname] = float(raw)
            except (ValueError, TypeError):
                partition[pname] = None
        elif avro_t == "boolean":
            partition[pname] = str(raw) in ("true", "True", "1")
        else:
            partition[pname] = raw
    return partition


def _entry_from_data(
    row,
    snapshot_id: int,
    status: int,
    ice_schema: dict,
    spec: list[dict],
    avro_part_types: dict[str, str],
    name_to_id: dict | None = None,
    id_to_type: dict | None = None,
) -> dict:
    """One manifest entry from a FILES_SCHEMA row — Spark Row OR a plain
    dict (a ``to_json`` round-trip on an executor, where Spark omits null
    fields, hence the ``.get`` access). Pure function of its arguments so
    the distributed manifest-shard writer can ship it to executors.
    ``name_to_id``/``id_to_type`` are per-row invariants — pass them
    precomputed on O(table) hot paths (the mega-commit entry stream) so a
    million entries don't rebuild the schema maps a million times."""
    get = row.get if isinstance(row, dict) else row.__getitem__
    if name_to_id is None:
        name_to_id = _flat_fields(ice_schema)
    if id_to_type is None:
        id_to_type = {f["id"]: f["type"] for f in ice_schema["fields"]}
    value_counts = []
    null_counts = []
    lowers = []
    uppers = []
    for s in get("column_stats") or []:
        d = s.asDict() if hasattr(s, "asDict") else dict(s)
        fid = name_to_id.get(d["field"])
        if fid is None:
            continue
        tname = id_to_type.get(fid)
        if d.get("num_values") is not None:
            value_counts.append({"key": fid, "value": int(d["num_values"])})
        if d.get("num_nulls") is not None:
            null_counts.append({"key": fid, "value": int(d["num_nulls"])})
        if d.get("min_value") is not None:
            b = _bound_bytes(tname, d["min_value"])
            if b is not None:
                lowers.append({"key": fid, "value": b})
        if d.get("max_value") is not None:
            b = _bound_bytes(tname, d["max_value"])
            if b is not None:
                uppers.append({"key": fid, "value": b})
    partition = _avro_partition(
        dict(get("partition_values") or {}), spec, avro_part_types
    )
    return {
        "status": status,
        "snapshot_id": snapshot_id,
        # v2 keys: always carried, written only when the entry schema is
        # the v2 variant (the avro writer follows the schema). None means
        # "inherit the manifest's sequence number" (metadata inheritance).
        "sequence_number": None,
        "file_sequence_number": None,
        "data_file": {
            "content": _CONTENT_DATA,
            "file_path": get("path"),
            "file_format": (get("file_format") or "parquet").upper(),
            "partition": partition,
            "record_count": int(get("record_count") or 0),
            "file_size_in_bytes": int(get("size") or 0),
            "block_size_in_bytes": 67108864,
            "value_counts": value_counts or None,
            "null_value_counts": null_counts or None,
            "lower_bounds": lowers or None,
            "upper_bounds": uppers or None,
        },
    }


def _bound_bytes(type_name: Any, value: str) -> Optional[bytes]:
    """Single-value binary serialization (Iceberg spec Appendix D)."""
    try:
        if type_name == "int":
            return struct.pack("<i", int(value))
        if type_name == "long":
            return struct.pack("<q", int(value))
        if type_name == "float":
            return struct.pack("<f", float(value))
        if type_name == "double":
            return struct.pack("<d", float(value))
        if type_name == "string":
            return value.encode("utf-8")
        if type_name == "boolean":
            return b"\x01" if value in ("True", "true", "1") else b"\x00"
    except (ValueError, TypeError):
        return None
    return None


def _bound_value(type_name: Any, raw: bytes) -> Optional[str]:
    try:
        if type_name == "int":
            return str(struct.unpack("<i", raw)[0])
        if type_name == "long":
            return str(struct.unpack("<q", raw)[0])
        if type_name == "float":
            return str(struct.unpack("<f", raw)[0])
        if type_name == "double":
            return str(struct.unpack("<d", raw)[0])
        if type_name == "string":
            return raw.decode("utf-8")
        if type_name == "boolean":
            return str(raw == b"\x01")
    except (struct.error, UnicodeDecodeError):
        return None
    return None


# -------------------------------------------------------------- avro schemas

_KV_LONG = {
    "type": "array",
    "items": {
        "type": "record",
        "name": "k_v_long",
        "fields": [
            {"name": "key", "type": "int", "field-id": 117},
            {"name": "value", "type": "long", "field-id": 118},
        ],
    },
    "logicalType": "map",
}
_KV_BYTES = {
    "type": "array",
    "items": {
        "type": "record",
        "name": "k_v_bytes",
        "fields": [
            {"name": "key", "type": "int", "field-id": 126},
            {"name": "value", "type": "bytes", "field-id": 127},
        ],
    },
    "logicalType": "map",
}


def _manifest_entry_schema(
    partition_fields: list[dict], v2: bool = False, deletes: bool = False
) -> dict:
    """Avro schema for manifest entries (spec §Manifests; ``v2`` adds the
    format-version-2 fields: entry sequence numbers and
    ``data_file.content``; ``deletes`` adds ``equality_ids`` — field-id
    135, spec-required on equality-delete entries, null on position
    deletes). Entry dicts always CARRY the v2 keys — the schema picks
    what gets written, so v1 bytes are unchanged."""
    schema = _manifest_entry_schema_v1(partition_fields)
    if not v2:
        return schema
    fields = list(schema["fields"])  # fresh per call — safe to reshape
    fields.insert(2, {"name": "sequence_number", "type": ["null", "long"],
                      "default": None, "field-id": 3})
    fields.insert(3, {"name": "file_sequence_number", "type": ["null", "long"],
                      "default": None, "field-id": 4})
    data_file = fields[-1]
    data_file["type"]["fields"].insert(
        0, {"name": "content", "type": "int", "field-id": 134}
    )
    if deletes:
        data_file["type"]["fields"].append(
            {
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int",
                                  "element-id": 136}],
                "default": None,
                "field-id": 135,
            }
        )
    return {**schema, "fields": fields}


def _manifest_entry_schema_v1(partition_fields: list[dict]) -> dict:
    """Avro schema for manifest entries (spec §Manifests, v1 subset)."""
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
            {
                "name": "data_file",
                "field-id": 2,
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        {"name": "file_path", "type": "string", "field-id": 100},
                        {"name": "file_format", "type": "string", "field-id": 101},
                        {
                            "name": "partition",
                            "field-id": 102,
                            "type": {
                                "type": "record",
                                "name": "r102",
                                "fields": partition_fields,
                            },
                        },
                        {"name": "record_count", "type": "long", "field-id": 103},
                        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
                        {"name": "block_size_in_bytes", "type": "long", "field-id": 105},
                        {"name": "value_counts", "type": ["null", _KV_LONG], "field-id": 109},
                        {"name": "null_value_counts", "type": ["null", _KV_LONG], "field-id": 110},
                        {"name": "lower_bounds", "type": ["null", _KV_BYTES], "field-id": 125},
                        {"name": "upper_bounds", "type": ["null", _KV_BYTES], "field-id": 128},
                    ],
                },
            },
        ],
    }


MANIFEST_LIST_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "added_snapshot_id", "type": ["null", "long"], "field-id": 503},
        {"name": "added_data_files_count", "type": ["null", "int"], "field-id": 504},
        {"name": "existing_data_files_count", "type": ["null", "int"], "field-id": 505},
        {"name": "deleted_data_files_count", "type": ["null", "int"], "field-id": 506},
        {"name": "added_rows_count", "type": ["null", "long"], "field-id": 512},
        {"name": "existing_rows_count", "type": ["null", "long"], "field-id": 513},
        {"name": "deleted_rows_count", "type": ["null", "long"], "field-id": 514},
    ],
}

#: v2 manifest-list schema (spec §Snapshots): content tags delete
#: manifests, sequence numbers drive delete applicability
MANIFEST_LIST_SCHEMA_V2 = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": ["null", "long"], "field-id": 503},
        {"name": "added_files_count", "type": ["null", "int"], "field-id": 504},
        {"name": "existing_files_count", "type": ["null", "int"], "field-id": 505},
        {"name": "deleted_files_count", "type": ["null", "int"], "field-id": 506},
        {"name": "added_rows_count", "type": ["null", "long"], "field-id": 512},
        {"name": "existing_rows_count", "type": ["null", "long"], "field-id": 513},
        {"name": "deleted_rows_count", "type": ["null", "long"], "field-id": 514},
    ],
}

_TRANSFORM_MAP = {
    PartitionTransform.VALUE: "identity",
    PartitionTransform.YEAR: "year",
    PartitionTransform.MONTH: "month",
    PartitionTransform.DAY: "day",
    PartitionTransform.HOUR: "hour",
}
_TRANSFORM_INV = {v: k for k, v in _TRANSFORM_MAP.items()}


def _transform_str(p: PartitionField) -> str:
    """IR transform → Iceberg spec string, including the parameterized
    bucket[N]/truncate[W] forms (r13 — beyond the reference, which throws
    on both; IcebergPartitionSpecExtractor.java:81-141)."""
    from onetable_spark.schema.partitions import to_iceberg_transform

    return to_iceberg_transform(p)


def _transform_field(p: dict, source_name: str) -> PartitionField:
    """Spec field dict → IR PartitionField, parsing bucket[N]/truncate[W]."""
    from onetable_spark.schema.partitions import from_iceberg_transform

    try:
        return from_iceberg_transform(p["transform"], source_name, p["name"])
    except ValueError:
        # unknown transform (e.g. void): surface as VALUE so reads keep
        # working on the other spec fields — reference fallback shape
        return PartitionField(
            source_field=source_name,
            transform=PartitionTransform.VALUE,
            partition_field_name=p["name"],
        )

STATUS_EXISTING = 0
STATUS_ADDED = 1
STATUS_DELETED = 2


def _split_manifests(manifests: list[dict]) -> tuple[list[dict], list[dict]]:
    """``(data_manifests, delete_manifests)`` from a manifest list.

    A v2 manifest list tags delete manifests with ``content = 1``
    (position/equality delete files — merge-on-read). r10 refused them
    outright; r11 APPLIES position deletes (net record counts, see
    ``snapshot_files``) and refuses only equality deletes, which cannot be
    resolved without reading data rows. This EXCEEDS the reference, whose
    Iceberg plane ignores delete files entirely and would resurrect
    deleted rows (`IcebergSourceClient.java:169-194` reads only
    addedDataFiles/removedDataFiles). v1 lists have no content field →
    all data."""
    data = [m for m in manifests if m.get("content", 0) == 0]
    deletes = [m for m in manifests if m.get("content") == 1]
    return data, deletes


#: data_file.content values inside manifest entries (spec: Manifests)
_CONTENT_DATA = 0
_CONTENT_POSITION_DELETES = 1
_CONTENT_EQUALITY_DELETES = 2

# Carried-entry fan-in per manifest shard on the distributed rewrite path:
# ~100k entries ≈ a few MB of avro per shard (Iceberg's own manifest
# target), small enough per executor task, large enough that a compacted
# list stays far below the 100-manifest guard even at millions of files.
_MANIFEST_SHARD_ENTRIES = 100_000


# Shared with the catalog plane: a catalog pointer CAS that loses and a
# version-file claim that loses are the same condition to callers — re-read
# table state and replay (optimistic concurrency).
from .iceberg_catalog import CommitConflictError  # noqa: E402


def _schema_fields_equal(a: dict, b: dict) -> bool:
    """Structural schema equality, ignoring the schema-id label."""
    strip = lambda s: {k: v for k, v in s.items() if k != "schema-id"}  # noqa: E731
    return strip(a) == strip(b)


class IcebergTable:
    """Reader/writer for one HadoopTables-layout Iceberg table.

    When ``catalog``/``identifier`` are given (S15, IcebergTableManager.java:
    52-101: catalog present → catalog.loadTable, else HadoopTables.load),
    the "what is the current metadata file?" question is answered by the
    catalog pointer instead of version-hint.text, and every commit CASes
    the catalog pointer after claiming the version file."""

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        catalog=None,
        identifier=None,
    ):
        self.spark = spark
        self.table_path = table_path
        self.metadata_dir = os.path.join(table_path, "metadata")
        self.catalog = catalog
        self.identifier = identifier

    @classmethod
    def from_catalog(
        cls,
        spark: SparkSession,
        catalog_config,
        identifier: str,
        table_path: Optional[str] = None,
    ) -> "IcebergTable":
        """Resolve a catalog-addressed table (RunSync --icebergCatalogConfig).

        ``table_path`` is only needed when creating a table the catalog does
        not know yet (pointer catalogs can't derive a location for an
        unregistered name; Hadoop catalogs always can)."""
        from .iceberg_catalog import IcebergCatalogConfig, TableIdentifier, load_catalog

        catalog = (
            load_catalog(catalog_config)
            if isinstance(catalog_config, IcebergCatalogConfig)
            else catalog_config
        )
        ident = TableIdentifier.parse(identifier)
        try:
            path = catalog.table_path(ident)
        except ValueError:
            if table_path is None:
                raise
            path = table_path
        return cls(spark, path, catalog=catalog, identifier=ident)

    # ------------------------------------------------------------------ read

    def _catalog_metadata_location(self) -> Optional[str]:
        if self.catalog is None or self.identifier is None:
            return None
        return self.catalog.metadata_location(self.identifier)

    def exists(self) -> bool:
        loc = self._catalog_metadata_location()
        if loc is not None:
            return os.path.exists(loc)
        return os.path.exists(os.path.join(self.metadata_dir, "version-hint.text"))

    def current_version(self) -> int:
        loc = self._catalog_metadata_location()
        if loc is not None:
            from .iceberg_catalog import metadata_version_of

            return metadata_version_of(loc)
        with open(os.path.join(self.metadata_dir, "version-hint.text")) as f:
            return int(f.read().strip())

    def metadata(self, version: Optional[int] = None) -> dict:
        v = self.current_version() if version is None else version
        with open(os.path.join(self.metadata_dir, f"v{v}.metadata.json")) as f:
            md = json.load(f)
        fv = md.get("format-version", 1)
        if fv > 2:
            # v3 adds binary deletion vectors and row lineage; reading it
            # with v2 semantics would resurrect deleted rows — refuse
            # loudly (the r10 guard family: never wrong data)
            raise ValueError(
                f"Iceberg format-version {fv} at {self.table_path} exceeds "
                "the supported v2; refusing rather than mis-reading"
            )
        return md

    def current_snapshot_meta(self, md: Optional[dict] = None) -> Optional[dict]:
        md = md or self.metadata()
        sid = md.get("current-snapshot-id", -1)
        for s in md.get("snapshots", []):
            if s["snapshot-id"] == sid:
                return s
        return None

    @staticmethod
    def _schema_for(md: dict) -> dict:
        """Current schema by schema-id match — on external tables the id is
        NOT a list position after schema evolution (spec: schemas is a set
        keyed by schema-id)."""
        if "schemas" not in md:
            return md["schema"]
        sid = md.get("current-schema-id", 0)
        for s in md["schemas"]:
            if s.get("schema-id", 0) == sid:
                return s
        raise ValueError(f"current-schema-id {sid} not present in schemas")

    @staticmethod
    def _spec_for(md: dict) -> list[dict]:
        """Default partition-spec fields by spec-id match (not list index)."""
        sid = md.get("default-spec-id", 0)
        for s in md.get("partition-specs", []):
            if s.get("spec-id", 0) == sid:
                return s["fields"]
        return md.get("partition-spec", [])

    def snapshot_files(
        self,
        snapshot_id: Optional[int] = None,
        apply_equality_deletes: bool = False,
        ref: Optional[str] = None,
    ) -> DataFrame:
        """Live file set via manifest-list → manifests (distributed decode).

        ``apply_equality_deletes`` opts into the DATA-ASSISTED equality-
        delete path (``_deleted_positions``): a parquet scan of the
        reachable data files' eq columns, joined null-safe against the
        eq-delete rows (capped at ``_MAX_EQ_TUPLES``), and the kill set
        unions with the position deletes (distinct per (path, pos) — a
        doubly-deleted row counts once). Without the flag, equality
        deletes refuse loudly: the scan reads data bytes, which a
        metadata-only sync must never do implicitly.

        v2 merge-on-read tables: position deletes are APPLIED (r11) — the
        delete parquet files are read by Spark's scan, distinct (path, pos)
        pairs that pass the sequence-number rule (delete_seq >= data_seq,
        spec §Scan Planning) are counted per data file, and the inventory
        reports NET record counts with per-column value counts adjusted
        and null counts dropped (a deleted row's nullness is unknowable
        without reading data). min/max bounds are kept: deletion can only
        narrow a range, so the stored bounds stay valid for pruning.
        Equality deletes still refuse loudly.

        ``ref`` (r12): read at a named branch or tag head (spec §Refs —
        ``"main"`` resolves to the current snapshot)."""
        md = self.metadata()
        if ref is not None:
            if snapshot_id is not None:
                raise ValueError("pass snapshot_id OR ref, not both")
            snapshot_id = self.resolve_ref(ref, md)
        snap = (
            self.current_snapshot_meta(md)
            if snapshot_id is None
            else next(s for s in md["snapshots"] if s["snapshot-id"] == snapshot_id)
        )
        if snap is None:
            return local_rows_df(self.spark, [], FILES_SCHEMA)
        _, manifests = read_container(snap["manifest-list"])
        data, deletes = _split_manifests(manifests)
        paths = [m["manifest_path"] for m in data]
        if not paths:
            return local_rows_df(self.spark, [], FILES_SCHEMA)
        ice_schema = self._schema_for(md)
        spec = self._spec_for(md)
        base = self._decode_manifests(
            paths, ice_schema, spec, statuses=(STATUS_ADDED, STATUS_EXISTING),
            seq_by_manifest={m["manifest_path"]: m.get("sequence_number", 0) for m in data},
        )
        if not deletes:
            return base.drop("_seq")
        return self._apply_position_deletes(
            base, deletes, ice_schema=ice_schema, apply_equality=apply_equality_deletes
        )

    #: equality-delete tuples above this count refuse the data-assisted
    #: path (counted from the eq-delete entries' manifest ``record_count``;
    #: a table with more eq-delete rows than this needs compaction anyway)
    _MAX_EQ_TUPLES = 1_000_000

    def _rows(
        self,
        schema: T.StructType,
        paths: list[str],
        seqs: Optional[list[tuple[str, int]]] = None,
    ) -> DataFrame:
        """``session.tagged_rows`` of the given data files; ``seqs``
        ((path, data sequence number) pairs) adds each file's ``_seq``
        through a broadcast join."""
        rows = tagged_rows(self.spark, schema, paths)
        if seqs is None:
            return rows
        seq_df = self.spark.createDataFrame(
            pd.DataFrame(seqs, columns=["_path", "_seq"]), "_path string, _seq long"
        )
        return rows.join(F.broadcast(seq_df), "_path", "left").withColumn(
            "_seq", _known(F.col("_seq"), "data file missing from its manifest entries")
        )

    def _delete_sources(
        self, files: list[_DeleteFile], ice_schema: dict, schema: T.StructType
    ) -> list[tuple[DataFrame, Optional[list[str]]]]:
        """The given delete files as JVM scans that data rows join against:
        one ``(_dpath, _dpos, _dseq)`` frame for the position deletes, and
        one ``(_k0, …, _dseq)`` frame per equality field-id set paired with
        the data-side column names (``None`` pairs the position frame).
        Each row carries its file's sequence number from the manifest
        entry, looked up by the scanned file path (delete files come a
        few per commit, so the lookup is a small literal map). Equality
        ids resolve to top-level columns or nested struct dot-paths; ids
        under maps/lists refuse. The equality-tuple cap is enforced from
        the entries' record counts."""
        n_tuples = sum(
            f.record_count for f in files if f.content == _CONTENT_EQUALITY_DELETES
        )
        if n_tuples > self._MAX_EQ_TUPLES:
            raise ValueError(
                f"{self.table_path}: {n_tuples} equality-delete tuples "
                f"exceed the {self._MAX_EQ_TUPLES} data-assisted cap; "
                "compact with rewrite_data_files"
            )
        id_to_name = _flatten_field_paths(ice_schema["fields"])
        groups: dict[tuple, dict[str, int]] = {}
        for f in files:
            groups.setdefault((f.content, f.equality_ids), {})[f.path] = f.seq
        out = []
        for (content, ids), seqs in groups.items():
            if content == _CONTENT_POSITION_DELETES:
                names, read_schema = None, "file_path string, pos long"
                cols = [F.col("file_path").alias("_dpath"), F.col("pos").alias("_dpos")]
            else:
                unknown = [i for i in ids if i not in id_to_name]
                if unknown or not ids:
                    raise ValueError(
                        f"{self.table_path}: equality field ids {list(ids)} "
                        "include one that is not a top-level column or nested "
                        "struct path; equality deletes on map/list elements "
                        "are unsupported"
                    )
                names, read_schema = [id_to_name[i] for i in ids], schema
                cols = [F.col(n).alias(f"_k{j}") for j, n in enumerate(names)]
            seq_of = F.create_map(*[F.lit(x) for kv in seqs.items() for x in kv])
            frame = self.spark.read.schema(read_schema).parquet(*seqs).select(
                *cols,
                _known(
                    F.element_at(seq_of, local_path(F.col("_metadata.file_path"))),
                    "delete file missing from its manifest entries",
                ).cast("long").alias("_dseq"),
            )
            out.append((frame, names))
        return out

    def _equality_positions(
        self,
        candidates: list[tuple[str, int]],
        eq_files: list[_DeleteFile],
        ice_schema: dict,
    ) -> DataFrame:
        """``(path, pos)`` of every row of the candidate ``(path, data
        sequence number)`` files that an equality delete kills: one
        parquet scan of the candidates' equality columns with their row
        index, semi-joined null-safe on the key columns against the
        eq-delete scans under the strict rule delete_seq > data_seq (spec
        §Scan Planning). Null keys match null tuple values and NaN matches
        NaN, as Java's StructLikeSet does."""
        schema = iceberg_to_structtype(ice_schema)
        rows = self._rows(schema, [p for p, _ in candidates], candidates)
        return _killed(
            rows, self._delete_sources(eq_files, ice_schema, schema)
        ).select(F.col("_path").alias("path"), F.col("_pos").alias("pos"))

    def _deleted_positions(
        self,
        base_with_seq: DataFrame,
        delete_manifests: list[dict],
        ice_schema: dict,
        apply_equality: bool = False,
    ) -> DataFrame:
        """Distinct ``(path, pos)`` of every row the applicable deletes
        kill at this snapshot — the shared core of net-count application,
        ``rewrite_data_files`` and cross-format delete translation (an
        Iceberg position delete becomes a Delta deletion vector from
        exactly these rows).

        The delete manifests decode on the driver. Position deletes are a
        JVM scan of the delete files' ``(file_path, pos)``, joined to
        ``base_with_seq`` (the data files with their ``_seq``) under
        delete_seq >= data_seq. Equality deletes refuse unless
        ``apply_equality``; applied, they cost one collect of the data
        files they can reach (data_seq below the newest equality delete's)
        and ``_equality_positions`` over those files. A row killed by
        several deletes counts once."""
        files = _delete_files(delete_manifests, allow_equality=apply_equality)
        pos_files = [f for f in files if f.content == _CONTENT_POSITION_DELETES]
        eq_files = [f for f in files if f.content == _CONTENT_EQUALITY_DELETES]
        parts = []
        if pos_files:
            (frame, _), = self._delete_sources(
                pos_files, ice_schema, iceberg_to_structtype(ice_schema)
            )
            # no broadcast hint: either side can dominate (million-file
            # inventories vs bulk deletes) — AQE picks the strategy
            parts.append(
                frame.join(
                    base_with_seq.select("path", "_seq"),
                    (F.col("_dpath") == F.col("path"))
                    & (F.col("_dseq") >= F.col("_seq")),
                ).select("path", F.col("_dpos").alias("pos"))
            )
        if eq_files:
            newest = max(f.seq for f in eq_files)
            # driver-ok: one (path, seq) row per data file an equality
            # delete can reach — the parquet scan needs the file list
            candidates = [
                (r["path"], int(r["_seq"]))
                for r in base_with_seq.where(F.col("_seq") < newest)
                .select("path", "_seq")
                .collect()
            ]
            if candidates:
                parts.append(
                    self._equality_positions(candidates, eq_files, ice_schema)
                )
        if not parts:
            return local_rows_df(self.spark, [], "path string, pos long")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.distinct()

    def snapshot_with_deleted_positions(
        self,
        snapshot_id: Optional[int] = None,
        apply_equality_deletes: bool = False,
    ) -> tuple[DataFrame, DataFrame]:
        """The RAW inventory plus the distinct deleted ``(path, pos)`` rows
        — the inputs a delete-translating target needs (e.g. Delta DV
        authoring): descriptors keep their physical counts, the deletions
        travel as positions. Equality deletes refuse by default;
        ``apply_equality_deletes`` resolves them to positions through the
        data-assisted scan — so even eq deletes, which have no positional
        form in Iceberg without a rewrite, can land as Delta DVs."""
        md = self.metadata()
        snap = (
            self.current_snapshot_meta(md)
            if snapshot_id is None
            else next(s for s in md["snapshots"] if s["snapshot-id"] == snapshot_id)
        )
        if snap is None:
            empty = local_rows_df(self.spark, [], FILES_SCHEMA)
            return empty, local_rows_df(self.spark, [], "path string, pos long")
        _, manifests = read_container(snap["manifest-list"])
        data, deletes = _split_manifests(manifests)
        paths = [m["manifest_path"] for m in data]
        ice_schema = self._schema_for(md)
        spec = self._spec_for(md)
        base = self._decode_manifests(
            paths, ice_schema, spec, statuses=(STATUS_ADDED, STATUS_EXISTING),
            seq_by_manifest={m["manifest_path"]: m.get("sequence_number", 0) for m in data},
        )
        positions = (
            self._deleted_positions(
                base, deletes, ice_schema=ice_schema,
                apply_equality=apply_equality_deletes,
            )
            if deletes
            else local_rows_df(self.spark, [], "path string, pos long")
        )
        return base.drop("_seq"), positions

    def _apply_position_deletes(
        self,
        base_with_seq: DataFrame,
        delete_manifests: list[dict],
        ice_schema: Optional[dict] = None,
        apply_equality: bool = False,
    ) -> DataFrame:
        """Net-effect inventory: subtract applicable delete rows from each
        data file's counts. ``base_with_seq`` is FILES_SCHEMA + ``_seq``
        (the data files' sequence numbers). Position deletes always apply
        (metadata + delete-parquet reads); equality deletes apply only on
        the opt-in data-assisted path — a row killed by BOTH kinds counts
        once (the union is distinct on (path, pos))."""
        deleted = self._deleted_positions(
            base_with_seq, delete_manifests, ice_schema, apply_equality
        )
        per_file = (
            deleted.groupBy("path").agg(F.count("*").alias("_n_del"))
        )
        adjusted = (
            base_with_seq.join(per_file, "path", "left_outer")
            .withColumn("_n_del", F.coalesce("_n_del", F.lit(0)))
        )
        new_stats = F.when(F.col("_n_del") == 0, F.col("column_stats")).otherwise(
            F.transform(
                "column_stats",
                lambda s: F.struct(
                    s["field"].alias("field"),
                    s["min_value"].alias("min_value"),
                    s["max_value"].alias("max_value"),
                    F.lit(None).cast("long").alias("num_nulls"),
                    (s["num_values"] - F.col("_n_del")).alias("num_values"),
                    s["total_size"].alias("total_size"),
                ),
            )
        )
        return adjusted.select(
            "path",
            "file_format",
            "partition_values",
            "size",
            (F.col("record_count") - F.col("_n_del")).alias("record_count"),
            "last_modified_millis",
            new_stats.alias("column_stats"),
        )

    def _manifests_containing(self, manifest_paths: list[str], removes: DataFrame) -> set[str]:
        """Which manifests hold at least one of the removed paths?

        Distributed: executors decode (manifest, file-path) pairs, a join
        against the removes marks dirty manifests. The returned set is
        bounded by the manifest count (one string per manifest)."""
        if not manifest_paths:
            return set()

        def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for mp in pdf["p"]:
                    _, entries = read_container(mp)
                    for e in entries:
                        if e["status"] in (STATUS_ADDED, STATUS_EXISTING):
                            rows.append({"mp": mp, "path": e["data_file"]["file_path"]})
                yield pd.DataFrame(rows, columns=["mp", "path"])

        base = local_rows_df(
            self.spark,
            [(p,) for p in manifest_paths],
            "p string",
            slices=len(manifest_paths),
        )
        pairs = base.mapInPandas(scan, "mp string, path string")
        dirty = pairs.join(removes.select("path"), "path").select("mp").distinct()
        # driver-ok: bounded — one row per dirty manifest; collect() is one
        # job where toLocalIterator would run one job per partition
        return {r["mp"] for r in dirty.collect()}

    def _decode_manifests(
        self,
        paths: list[str],
        ice_schema: dict,
        spec: list[dict],
        statuses: tuple[int, ...],
        seq_by_manifest: Optional[dict[str, int]] = None,
        emit_manifest_path: bool = False,
    ) -> DataFrame:
        """FILES_SCHEMA rows from data manifests. With ``seq_by_manifest``
        (manifest_path → manifest sequence number) an extra ``_seq``
        column carries each entry's data sequence number — explicit on the
        entry, else inherited from its manifest (v2 metadata inheritance);
        v1 manifests have neither and inherit 0. ``emit_manifest_path``
        adds a ``_manifest`` column (r14) so a caller can decode MANY
        snapshots' manifests in ONE pooled pass and slice per snapshot
        with an isin filter — the changelog's chain walk re-decoded the
        same parent manifests O(chain) times without it."""
        id_to_name = {f["id"]: f["name"] for f in ice_schema["fields"]}
        id_to_type = {f["id"]: f["type"] for f in ice_schema["fields"]}
        spec_names = [p["name"] for p in spec]
        statuses_set = set(statuses)
        emit_seq = seq_by_manifest is not None
        seq_map = seq_by_manifest or {}

        def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = []
                for mpath in pdf["p"]:
                    _, entries = read_container(mpath)
                    for e in entries:
                        if e["status"] not in statuses_set:
                            continue
                        df_ = e["data_file"]
                        nulls = {kv["key"]: kv["value"] for kv in (df_.get("null_value_counts") or [])}
                        counts = {kv["key"]: kv["value"] for kv in (df_.get("value_counts") or [])}
                        lowers = {kv["key"]: kv["value"] for kv in (df_.get("lower_bounds") or [])}
                        uppers = {kv["key"]: kv["value"] for kv in (df_.get("upper_bounds") or [])}
                        stats = []
                        for fid, name in id_to_name.items():
                            if fid not in counts and fid not in lowers:
                                continue
                            tname = id_to_type.get(fid)
                            stats.append(
                                {
                                    "field": name,
                                    "min_value": _bound_value(tname, lowers[fid]) if fid in lowers else None,
                                    "max_value": _bound_value(tname, uppers[fid]) if fid in uppers else None,
                                    "num_nulls": nulls.get(fid),
                                    "num_values": counts.get(fid),
                                    "total_size": None,
                                }
                            )
                        partition = df_.get("partition") or {}
                        row = {
                            "path": df_["file_path"],
                            "file_format": df_["file_format"].lower(),
                            "partition_values": {
                                n: None if partition.get(n) is None else str(partition[n])
                                for n in spec_names
                            },
                            "size": df_["file_size_in_bytes"],
                            "record_count": df_["record_count"],
                            "last_modified_millis": None,
                            "column_stats": stats or None,
                        }
                        if emit_seq:
                            eseq = e.get("sequence_number")
                            row["_seq"] = int(
                                seq_map.get(mpath, 0) if eseq is None else eseq
                            )
                        if emit_manifest_path:
                            row["_manifest"] = mpath
                        rows.append(row)
                cols = (
                    [
                        "path",
                        "file_format",
                        "partition_values",
                        "size",
                        "record_count",
                        "last_modified_millis",
                        "column_stats",
                    ]
                    + (["_seq"] if emit_seq else [])
                    + (["_manifest"] if emit_manifest_path else [])
                )
                yield pd.DataFrame(rows, columns=cols)

        extra_fields = ([T.StructField("_seq", T.LongType())] if emit_seq else []) + (
            [T.StructField("_manifest", T.StringType())] if emit_manifest_path else []
        )
        out_schema = (
            T.StructType(FILES_SCHEMA.fields + extra_fields)
            if extra_fields
            else FILES_SCHEMA
        )
        base = local_rows_df(
            self.spark, [(p,) for p in paths], "p string", slices=len(paths)
        )
        return base.mapInPandas(decode, out_schema)

    def table_descriptor(self, name: str | None = None) -> Table:
        md = self.metadata()
        ice_schema = self._schema_for(md)
        schema = iceberg_to_structtype(ice_schema)
        id_to_name = {f["id"]: f["name"] for f in ice_schema["fields"]}
        spec = self._spec_for(md)
        pfields = tuple(
            _transform_field(p, id_to_name.get(p["source-id"], p["name"]))
            for p in spec
        )
        # identifier-field-ids → recordKeyFields (reverse of the
        # IcebergSchemaExtractor.java:69-99 mapping), id-list order kept
        record_keys = tuple(
            id_to_name[i]
            for i in ice_schema.get("identifier-field-ids", [])
            if i in id_to_name
        )
        return Table(
            name=name or os.path.basename(md.get("location", self.table_path)),
            base_path=self.table_path,
            table_format=TableFormat.ICEBERG,
            read_schema=schema,
            partition_fields=pfields,
            record_key_fields=record_keys,
            layout=DataLayoutStrategy.HIVE_STYLE_PARTITION if pfields else DataLayoutStrategy.FLAT,
            latest_commit_millis=md.get("last-updated-ms", 0),
        )

    def current_snapshot(self) -> Snapshot:
        snap = self.current_snapshot_meta()
        return Snapshot(
            table=self.table_descriptor(),
            files=self.snapshot_files(),
            version=str(snap["snapshot-id"]) if snap else "0",
        )

    def snapshots_after_millis(self, millis: int) -> list[dict]:
        """Commit backlog: walk the parent chain back to the watermark
        (IcebergSourceClient.java:196-224)."""
        md = self.metadata()
        by_id = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
        chain: list[dict] = []
        cur = self.current_snapshot_meta(md)
        while cur is not None and cur["timestamp-ms"] > millis:
            chain.append(cur)
            cur = by_id.get(cur.get("parent-snapshot-id"))
        return list(reversed(chain))

    def is_incremental_sync_safe_from(self, millis: int) -> bool:
        """Parent chain must reach a snapshot at/before the instant without
        hitting an expired gap (IcebergSourceClient.java:226-260)."""
        md = self.metadata()
        by_id = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
        cur = self.current_snapshot_meta(md)
        while cur is not None:
            if cur["timestamp-ms"] <= millis:
                return True
            parent = cur.get("parent-snapshot-id")
            if parent is None:
                return False
            cur = by_id.get(parent)
        return False

    def changes_for_snapshot(self, snapshot_id: int) -> TableChange:
        """Added/removed files of one snapshot (IcebergSourceClient.java:169-194):
        decode only the manifests this snapshot added.

        Merge-on-read delete snapshots (r11): a snapshot whose NEW
        manifests include delete manifests emits the net effect the
        reference cannot (it ignores delete files and would resurrect
        rows) — every data file targeted by the new position deletes is
        REMOVED and RE-ADDED with counts adjusted by all deletes
        applicable at this snapshot, so a Delta/Hudi target replaces the
        descriptor in one commit."""
        md = self.metadata()
        snap = next(s for s in md["snapshots"] if s["snapshot-id"] == snapshot_id)
        _, manifests = read_container(snap["manifest-list"])
        data, deletes = _split_manifests(manifests)
        own = [
            m["manifest_path"]
            for m in data
            if m.get("added_snapshot_id") == snapshot_id
        ]
        ice_schema = self._schema_for(md)
        spec = self._spec_for(md)
        added = self._decode_manifests(own, ice_schema, spec, statuses=(STATUS_ADDED,)) if own else local_rows_df(self.spark, [], FILES_SCHEMA)
        removed = (
            self._decode_manifests(own, ice_schema, spec, statuses=(STATUS_DELETED,)).select("path")
            if own
            else local_rows_df(self.spark, [], "path string")
        )
        new_deletes = [m for m in deletes if m.get("added_snapshot_id") == snapshot_id]
        files = _delete_files(new_deletes, allow_equality=False)
        if files:
            hit = (
                self.spark.read.schema("file_path string, pos long")
                .parquet(*[f.path for f in files])
                .select(F.col("file_path").alias("path"))
                .distinct()
            )
            # adjusted descriptors for every targeted file still live at
            # this snapshot (dead targets drop out via the semi-join)
            net = self.snapshot_files(snapshot_id).join(hit, "path", "left_semi")
            new_paths = added.select("path")
            # the adjusted descriptor supersedes the raw one even for
            # files added in this same snapshot (delete+add in one commit)
            added = added.join(hit, "path", "left_anti").unionByName(net)
            # pre-existing targeted files get an explicit remove so the
            # target replaces their descriptor in one commit
            removed = removed.unionByName(
                net.select("path").join(new_paths, "path", "left_anti")
            )
        return TableChange(
            table=self.table_descriptor(),
            diff=FilesDiff(added=added, removed=removed),
            commit_millis=snap["timestamp-ms"],
            commit_id=str(snapshot_id),
        )

    def changelog(
        self,
        from_snapshot_id: Optional[int] = None,
        to_snapshot_id: Optional[int] = None,
        apply_equality_deletes: bool = True,
        identifier_fields: Optional[list[str]] = None,
        net_changes: bool = False,
    ) -> DataFrame:
        """ROW-LEVEL changelog scan (Iceberg's ``create_changelog_view``
        procedure; the Delta sibling is ``DeltaLog.change_feed``): table
        rows + ``_change_type`` ('insert'/'delete') + ``_change_ordinal`` +
        ``_commit_snapshot_id`` for every snapshot in (from_snapshot_id,
        to_snapshot_id], walked along the parent chain. Iceberg parity:

        - an upsert (equality-delete + data files in one snapshot) emits
          the killed old rows as 'delete' and the new rows as 'insert' —
          Iceberg pairs them into updates only with identifier fields,
          which its procedure also leaves off by default;
        - 'replace' snapshots (rewrite_data_files / compact_file_groups)
          emit NOTHING — a compaction is not a logical change;
        - a data file REMOVED by a snapshot emits its rows still live at
          the parent snapshot;
        - NEW delete files emit the rows they kill in the parent's live
          data files that were still live there (equality deletes through
          the data-assisted scan, ``apply_equality_deletes=False`` to
          refuse). A row killed again by a later delete is not emitted
          again.

        Flow. A driver pass over the chain's avro metadata decodes each
        snapshot's OWN data and delete manifests (O(commit)) and its
        parent's delete manifests. One pooled collect then fetches, for
        the whole chain, the parent data files a new delete or a removal
        can reach as ``(path, data sequence number)``. Everything else is
        Spark's parquet scan, tagged with ``_metadata.file_path`` and
        ``_metadata.row_index``: inserted rows are a scan of the added
        files; deleted rows are a scan of the removed files, or of the
        parent's files semi-joined against the new position deletes
        (``(file_path, pos)``) and equality deletes (null-safe on the key
        columns, under delete_seq > data_seq). Both anti-join the parent's
        own delete files, so a row already dead at the parent is never
        emitted. No row passes through Python and no data file is read
        twice.

        ``identifier_fields`` (create_changelog_view's identifier-columns
        mode / ChangelogIterator.computeUpdates): when given, a same-key
        delete+insert within one snapshot pairs into
        ``update_preimage``/``update_postimage``. One extra shuffle on
        (ordinal, keys); keys are assumed unique per snapshot, exactly
        what Iceberg's iterator assumes. Default off — bare parity.

        ``net_changes`` (create_changelog_view's net_changes /
        ChangelogIterator.removeNetCarryovers): only the NET change per
        row CONTENT across the whole range survives — an insert later
        deleted (or a delete later re-inserted identically, the
        carryover shape) cancels out; surviving events keep their own
        ordinals, latest-ordinal instances surviving first. One shuffle
        on the full row content. Mutually exclusive with
        ``identifier_fields``, exactly as the procedure refuses
        compute_updates + net_changes together.

        The reference has no changelog surface at all (file-level change
        scan only, IcebergSourceClient.java:169-194)."""
        md = self.metadata()
        by_id = {s["snapshot-id"]: s for s in md.get("snapshots", [])}
        to_id = (
            md.get("current-snapshot-id")
            if to_snapshot_id is None
            else to_snapshot_id
        )
        chain: list[dict] = []
        cur = to_id
        while cur is not None and cur != -1 and cur != from_snapshot_id:
            snap = by_id.get(cur)
            if snap is None:
                raise ValueError(f"{self.table_path}: unknown snapshot {cur}")
            chain.append(snap)
            cur = snap.get("parent-snapshot-id")
        if from_snapshot_id is not None and cur != from_snapshot_id:
            raise ValueError(
                f"{self.table_path}: {from_snapshot_id} is not an ancestor "
                f"of {to_id}"
            )
        chain.reverse()

        ice_schema = self._schema_for(md)
        spec = self._spec_for(md)
        schema = iceberg_to_structtype(ice_schema)
        out_schema = T.StructType(
            list(schema.fields)
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_change_ordinal", T.IntegerType()),
                T.StructField("_commit_snapshot_id", T.LongType()),
            ]
        )

        mlist_cache: dict[str, list] = {}

        def manifest_list(snap_: dict) -> list:
            lp = snap_["manifest-list"]
            if lp not in mlist_cache:
                mlist_cache[lp] = read_container(lp)[1]
            return mlist_cache[lp]

        # ---- driver pass: own manifests and the parent's delete files
        delete_cache: dict[str, list[_DeleteFile]] = {}
        steps = []
        parent_seq: dict[str, int] = {}
        kill_manifests: set[str] = set()
        removed_paths: set[str] = set()
        for ordinal, snap in enumerate(chain):
            if (snap.get("summary") or {}).get("operation") == "replace":
                continue
            sid = snap["snapshot-id"]
            data, deletes = _split_manifests(manifest_list(snap))
            added, removed = [], []
            for m in data:
                if m.get("added_snapshot_id") != sid:
                    continue
                for e in read_container(m["manifest_path"])[1]:
                    if e["status"] == STATUS_ADDED:
                        added.append(e["data_file"]["file_path"])
                    elif e["status"] == STATUS_DELETED:
                        removed.append(e["data_file"]["file_path"])
            parent = by_id.get(snap.get("parent-snapshot-id"))
            new: list[_DeleteFile] = []
            prior: list[_DeleteFile] = []
            pmanifests: list[str] = []
            if parent is not None:
                new = _delete_files(
                    [m for m in deletes if m.get("added_snapshot_id") == sid],
                    apply_equality_deletes,
                    delete_cache,
                )
                pdata, pdeletes = _split_manifests(manifest_list(parent))
                if new or removed:
                    prior = _delete_files(
                        pdeletes, apply_equality_deletes, delete_cache
                    )
                if new or (removed and prior):
                    pmanifests = [m["manifest_path"] for m in pdata]
                    for m in pdata:
                        parent_seq[m["manifest_path"]] = m.get("sequence_number", 0)
                    if new:
                        kill_manifests.update(pmanifests)
                    if prior:
                        removed_paths.update(removed)
            steps.append((ordinal, sid, added, removed, new, prior, pmanifests))

        # ---- ONE pooled job: the parent files a kill or removal reaches
        live: dict[str, list[tuple[str, int]]] = {}
        if parent_seq:
            pooled = self._decode_manifests(
                sorted(parent_seq), ice_schema, spec,
                statuses=(STATUS_ADDED, STATUS_EXISTING),
                seq_by_manifest=parent_seq,
                emit_manifest_path=True,
            )
            reach = F.col("_manifest").isin(sorted(kill_manifests))
            if removed_paths:
                reach = reach | F.col("path").isin(sorted(removed_paths))
            # driver-ok: one (path, seq) row per reachable parent data
            # file — the parquet scans below need the file list
            for r in pooled.where(reach).select("path", "_seq", "_manifest").collect():
                live.setdefault(r["_manifest"], []).append(
                    (r["path"], int(r["_seq"]))
                )

        cols = [F.col(f"`{n}`") for n in schema.fieldNames()]
        frames = []
        for ordinal, sid, added, removed, new, prior, pmanifests in steps:

            def stamp(df: DataFrame, change: str) -> DataFrame:
                return df.select(
                    *cols,
                    F.lit(change).alias("_change_type"),
                    F.lit(ordinal).alias("_change_ordinal"),
                    F.lit(sid).cast("long").alias("_commit_snapshot_id"),
                )

            if added:
                frames.append(
                    stamp(self.spark.read.schema(schema).parquet(*added), "insert")
                )
            parent_files = [f for mp in pmanifests for f in live.get(mp, [])]
            prior_sources = (
                self._delete_sources(prior, ice_schema, schema) if prior else []
            )
            gone = set(removed)
            if removed:
                seqs = [f for f in parent_files if f[0] in gone]
                rows = self._rows(schema, removed, seqs if prior_sources else None)
                frames.append(stamp(_surviving(rows, prior_sources), "delete"))
            candidates = [f for f in parent_files if f[0] not in gone]
            if new and candidates:
                rows = self._rows(schema, [p for p, _ in candidates], candidates)
                killed = _killed(rows, self._delete_sources(new, ice_schema, schema))
                frames.append(stamp(_surviving(killed, prior_sources), "delete"))

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

            w = Window.partitionBy("_change_ordinal", *identifier_fields)
            kinds = F.collect_set("_change_type").over(w)
            both = F.array_contains(kinds, "insert") & F.array_contains(
                kinds, "delete"
            )
            out = out.withColumn(
                "_change_type",
                F.when(
                    both & (F.col("_change_type") == "delete"),
                    F.lit("update_preimage"),
                )
                .when(
                    both & (F.col("_change_type") == "insert"),
                    F.lit("update_postimage"),
                )
                .otherwise(F.col("_change_type")),
            )
        if net_changes:
            if identifier_fields:
                raise ValueError(
                    "net_changes and identifier_fields are mutually "
                    "exclusive (create_changelog_view refuses "
                    "compute_updates with net_changes the same way)"
                )
            from pyspark.sql import Window

            cols = schema.fieldNames()
            w = Window.partitionBy(*cols)
            n_ins = F.sum(
                (F.col("_change_type") == "insert").cast("long")
            ).over(w)
            n_del = F.sum(
                (F.col("_change_type") == "delete").cast("long")
            ).over(w)
            net = n_ins - n_del
            w_type = Window.partitionBy(*cols, "_change_type").orderBy(
                F.col("_change_ordinal").desc()
            )
            rk = F.row_number().over(w_type)
            out = (
                out.withColumn("_net", net)
                .withColumn("_rk", rk)
                .where(
                    (
                        (F.col("_net") > 0)
                        & (F.col("_change_type") == "insert")
                        & (F.col("_rk") <= F.col("_net"))
                    )
                    | (
                        (F.col("_net") < 0)
                        & (F.col("_change_type") == "delete")
                        & (F.col("_rk") <= -F.col("_net"))
                    )
                )
                .drop("_net", "_rk")
            )
        return out

    def properties(self) -> dict[str, str]:
        return dict(self.metadata().get("properties") or {})

    def get_sync_metadata(self) -> Optional[TableMetadata]:
        return TableMetadata.from_props(self.properties())

    # ----------------------------------------------------------------- write

    def init_table(
        self,
        table: Table,
        properties: Optional[dict[str, str]] = None,
        format_version: int = 1,
    ) -> None:
        if format_version not in (1, 2):
            raise ValueError(f"unsupported Iceberg format-version {format_version}")
        if self.exists():
            return
        os.makedirs(self.metadata_dir, exist_ok=True)
        ice_schema, next_id = structtype_to_iceberg(
            table.read_schema, record_keys=tuple(table.record_key_fields)
        )
        name_to_id = _flat_fields(ice_schema)
        spec_fields = []
        field_id = 1000
        for p in table.partition_fields:
            spec_fields.append(
                {
                    "name": p.name,
                    "transform": _transform_str(p),
                    "source-id": name_to_id.get(p.source_field, 0),
                    "field-id": field_id,
                }
            )
            field_id += 1
        md = {
            "format-version": format_version,
            **({"last-sequence-number": 0} if format_version == 2 else {}),
            "table-uuid": str(uuid.uuid4()),
            "location": self.table_path,
            "last-updated-ms": int(time.time() * 1000),
            "last-column-id": next_id - 1,
            "schema": {**ice_schema, "schema-id": 0},
            "schemas": [{**ice_schema, "schema-id": 0}],
            "current-schema-id": 0,
            "partition-spec": spec_fields,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "default-spec-id": 0,
            "last-partition-id": field_id - 1,
            "properties": dict(properties or {}),
            "current-snapshot-id": -1,
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        try:
            self._write_metadata(1, md)
        except CommitConflictError:
            return  # concurrent creator won; table now exists

    def _write_metadata(self, version: int, md: dict) -> None:
        """Atomically claim v<version>.metadata.json with O_CREAT|O_EXCL —
        two concurrent committers racing from the same base version cannot
        both win (the loser gets CommitConflictError and must re-read and
        re-apply, mirroring HadoopTableOperations' rename-based CAS). The
        Delta plane does the same via _atomic_write."""
        path = os.path.join(self.metadata_dir, f"v{version}.metadata.json")
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError as e:
            raise CommitConflictError(f"metadata version {version} already committed") from e
        with os.fdopen(fd, "w") as f:
            json.dump(md, f, indent=1)
        if self.catalog is not None and self.identifier is not None:
            # Pointer catalogs are the commit authority (JdbcTableOperations.
            # doCommit): CAS from the location we based this commit on. Our
            # own writes always name files v<N>, so the expected pointer is
            # derivable from the version we just claimed.
            expected = (
                os.path.join(self.metadata_dir, f"v{version - 1}.metadata.json")
                if version > 1
                else None
            )
            try:
                if expected is None and self.catalog.metadata_location(self.identifier) is None:
                    self.catalog.register(self.identifier, path)
                else:
                    self.catalog.swap(self.identifier, expected, path)
            except CommitConflictError:
                os.unlink(path)  # roll back the file claim; pointer is truth
                raise
        # atomic hint update: a plain truncate-then-write lets a concurrent
        # reader observe an empty file between the two steps (int('') crash
        # under racing writers); write-beside + rename is atomic on POSIX
        hint = os.path.join(self.metadata_dir, "version-hint.text")
        tmp = f"{hint}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            f.write(str(version))
        os.replace(tmp, hint)

    def _sync_partition_spec(
        self, md: dict, incoming: tuple, ice_schema: dict
    ) -> list[dict]:
        """K7 partition-spec evolution (IcebergPartitionSpecSync.java:43-68):
        diff the current default spec against the incoming PartitionField
        list by field name — removed fields drop out, added fields get fresh
        partition field-ids, retained fields keep theirs. A change appends a
        NEW immutable spec and moves default-spec-id (UpdatePartitionSpec
        semantics: specs are never mutated in place)."""
        current = self._spec_for(md)
        name_to_id = _flat_fields(ice_schema)
        wanted = [
            {
                "name": p.name,
                "transform": _transform_str(p),
                "source-id": name_to_id.get(p.source_field, 0),
            }
            for p in incoming
        ]
        key = lambda f: (f["name"], f["transform"], f["source-id"])  # noqa: E731
        if [key(f) for f in current] == [key(f) for f in wanted]:
            return current
        cur_by_name = {f["name"]: f for f in current}
        last_pid = md.get("last-partition-id", 999)
        new_fields = []
        for e in wanted:
            prev = cur_by_name.get(e["name"])
            if prev is not None and key(prev) == key(e):
                new_fields.append(prev)
            else:
                last_pid += 1
                new_fields.append({**e, "field-id": last_pid})
        new_sid = (
            max((s.get("spec-id", 0) for s in md.get("partition-specs", [])), default=-1) + 1
        )
        md["partition-specs"] = md.get("partition-specs", []) + [
            {"spec-id": new_sid, "fields": new_fields}
        ]
        md["default-spec-id"] = new_sid
        md["last-partition-id"] = last_pid
        md["partition-spec"] = new_fields  # v1 compat mirror
        return new_fields

    def commit_overwrite(
        self,
        adds: DataFrame | None = None,
        removes: DataFrame | None = None,
        properties: Optional[dict[str, str]] = None,
        schema: Optional[T.StructType] = None,
        expire_older_than_millis: Optional[int] = None,
        max_retries: int = 3,
        partition_fields: Optional[tuple] = None,
        branch: Optional[str] = None,
    ) -> int:
        """One transactional commit: schema/properties/partition-spec update +
        OverwriteFiles + snapshot expiry (IcebergClient.java:146-236
        single-transaction parity).

        Carry-forward: prior live files (minus removes) are rewritten into an
        EXISTING-status manifest; adds get an ADDED-status manifest; removed
        files get a STATUS_DELETED manifest (so incremental consumers see the
        deletions, as real Iceberg overwrite commits do). On a version-claim
        conflict the whole commit re-reads and replays (optimistic CAS loop).

        ``branch`` (r12, the WAP staging half): the snapshot is built from
        MAIN's current state but published only to the named branch ref —
        ``current-snapshot-id`` does not move, so readers of the table see
        nothing until ``publish_branch()`` fast-forwards main after the
        audit (read the staged state with ``snapshot_files(ref=branch)``).
        """
        for attempt in range(max_retries):
            try:
                return self._commit_overwrite_once(
                    adds, removes, properties, schema, expire_older_than_millis,
                    partition_fields, branch=branch,
                )
            except CommitConflictError:
                if attempt == max_retries - 1:
                    raise
                # the winner claims its v-file BEFORE publishing the hint;
                # an immediate retry can spin on the stale hint faster than
                # the winner's rename lands — back off briefly
                time.sleep(0.02 * (attempt + 1))
        raise AssertionError("unreachable")

    def _commit_overwrite_once(
        self,
        adds: DataFrame | None,
        removes: DataFrame | None,
        properties: Optional[dict[str, str]],
        schema: Optional[T.StructType],
        expire_older_than_millis: Optional[int],
        partition_fields: Optional[tuple] = None,
        branch: Optional[str] = None,
    ) -> int:
        # read the version ONCE and load metadata at exactly that version:
        # two separate hint reads let a concurrent committer slip between
        # them, basing this commit on v(N) content while claiming v(N+2) —
        # a lost update the O_EXCL claim cannot catch
        version = self.current_version()
        md = self.metadata(version)
        now = int(time.time() * 1000)
        if (
            adds is None
            and removes is None
            and schema is None
            and partition_fields is None
            and branch is None
        ):
            # pure METADATA commit (properties and/or expiry): real
            # Iceberg's UpdateProperties / expireSnapshots move NO
            # snapshot — current-snapshot-id stays put, so a staged WAP
            # branch remains fast-forwardable across maintenance commits
            # (r13; the snapshot this path used to mint made publish_
            # branch's ancestry check refuse after any properties touch)
            if properties:
                md["properties"] = {**md.get("properties", {}), **properties}
            if expire_older_than_millis is not None:
                self._expire(md, expire_older_than_millis)
            md["last-updated-ms"] = now
            self._write_metadata(version + 1, md)
            cur = md.get("current-snapshot-id")
            return int(cur) if cur is not None else -1
        snapshot_id = int.from_bytes(os.urandom(7), "big")
        fv = md.get("format-version", 1)
        if fv == 2 and (removes is not None or schema is not None or partition_fields is not None):
            # v2 WRITE support is append + position-delete commits (the
            # delete-translation target shape); the rewrite/evolution
            # paths would need explicit per-entry sequence numbers on
            # carried entries — refuse loudly rather than writing entries
            # whose inherited sequence numbers would WRONGLY re-scope
            # older position deletes
            raise ValueError(
                f"{self.table_path}: the v2 writer supports append and "
                "position-delete commits; removes/schema/spec changes on a "
                "format-version-2 table are not implemented"
            )
        current_schema = self._schema_for(md)
        schema_changed = False
        if schema is not None:
            ice_schema, next_id = structtype_to_iceberg(schema)
            if _schema_fields_equal(ice_schema, current_schema):
                ice_schema = current_schema
            else:
                schema_changed = True
                # evolution: append under a NEW schema-id (never mutate or
                # reindex existing entries — ids are stable identifiers)
                new_sid = (
                    max((s.get("schema-id", 0) for s in md.get("schemas", [])), default=-1) + 1
                )
                ice_schema = {**ice_schema, "schema-id": new_sid}
                # identifier fields survive evolution while their ids still
                # resolve to required fields in the new schema
                prior_ids = current_schema.get("identifier-field-ids")
                if prior_ids:
                    new_by_id = {f["id"]: f for f in ice_schema["fields"]}
                    if all(
                        i in new_by_id and new_by_id[i]["required"] for i in prior_ids
                    ):
                        ice_schema["identifier-field-ids"] = list(prior_ids)
                md["schemas"] = md.get("schemas", [current_schema]) + [ice_schema]
                md["current-schema-id"] = new_sid
                md["schema"] = ice_schema
                md["last-column-id"] = max(md.get("last-column-id", 0), next_id - 1)
        else:
            ice_schema = current_schema
        spec_before = self._spec_for(md)
        if partition_fields is not None:
            spec = self._sync_partition_spec(md, partition_fields, ice_schema)
        else:
            spec = spec_before
        spec_changed = spec is not spec_before and spec != spec_before

        prev = self.current_snapshot_meta(md)
        carried: list[dict] = []
        deleted_entries: list[dict] = []
        carried_manifests: list[dict] = []
        removed_paths: set = set()
        if prev is not None:
            if removes is not None:
                # driver-ok: O(removed files) — the commit must name every
                # removed path in the new manifests anyway; single job
                removed_paths = {r["path"] for r in removes.select("path").collect()}
            _, prev_manifests = (
                read_container(prev["manifest-list"]) if prev.get("manifest-list") else (None, [])
            )
            # compaction guard (ManifestMergeManager parity): past the
            # threshold the append path would grow the manifest list without
            # bound — take the rewrite path, which folds everything into one
            # EXISTING manifest. Amortized O(table/100) per commit.
            needs_compaction = len(prev_manifests) >= 100
            if needs_compaction and fv == 2:
                raise ValueError(
                    f"{self.table_path}: the v2 append path is at the "
                    f"{len(prev_manifests)}-manifest guard — run "
                    "compact_manifests() (folds carried entries into "
                    "sharded EXISTING manifests with explicit sequence "
                    "numbers), then retry this commit"
                )
            if (
                not removed_paths
                and not schema_changed
                and not spec_changed
                and not needs_compaction
            ):
                # APPEND fast path — real Iceberg semantics: manifests are
                # immutable, so the new manifest list references the prior
                # snapshot's manifests VERBATIM and only a new added-manifest
                # is written. No O(table) carry-forward rewrite, no driver
                # materialization of the live set (the old path pulled every
                # live file through toLocalIterator on every commit).
                # Readers stay correct: snapshot_files keeps ADDED/EXISTING
                # and drops DELETED entries whatever manifest they sit in;
                # changes_for_snapshot keys on each manifest's original
                # added_snapshot_id.
                carried_manifests = prev_manifests
            elif (
                removed_paths
                and not schema_changed
                and not spec_changed
                and not needs_compaction
            ):
                # PARTITION-SCOPED overwrite — same immutability argument as
                # the append path, applied to deletes: only manifests that
                # actually CONTAIN a removed path are rewritten; every other
                # manifest is carried verbatim. An overwrite touching 1% of
                # partitions rewrites O(changed) entries, not O(table). The
                # dirty-manifest scan is a distributed decode + join; the
                # rewrite payload below is bounded by the dirty manifests'
                # entry count (the commit payload itself).
                # reuse the already-collected removed set — re-referencing
                # the removes DataFrame would re-run its lineage (often a
                # distributed footer inventory) a second time
                removed_df = local_rows_df(
                    self.spark, [(p,) for p in sorted(removed_paths)], "path string"
                )
                dirty = self._manifests_containing(
                    [m["manifest_path"] for m in prev_manifests], removed_df
                )
                carried_manifests = [
                    m for m in prev_manifests if m["manifest_path"] not in dirty
                ]
                if dirty:
                    # driver-ok: bounded — entries of dirty manifests only,
                    # all of which this commit re-serializes anyway
                    for row in self._decode_manifests(
                        sorted(dirty), ice_schema, spec, statuses=(STATUS_ADDED, STATUS_EXISTING)
                    ).collect():
                        if row["path"] in removed_paths:
                            deleted_entries.append(
                                self._entry_from_row(row, snapshot_id, STATUS_DELETED, ice_schema, spec)
                            )
                        else:
                            carried.append(
                                self._entry_from_row(row, snapshot_id, STATUS_EXISTING, ice_schema, spec)
                            )
            else:
                # REWRITE path (schema/spec change or ≥100-manifest
                # compaction): the carried live set is O(table), so it is
                # written as sharded EXISTING manifests by a DISTRIBUTED
                # job — executors serialize the avro, the driver sees one
                # stats row per shard. This removes the last O(table)
                # driver materialization in the commit plane (round 6;
                # previously snapshot_files(prev).collect()).
                prev_files = self.snapshot_files(prev["snapshot-id"])
                if removed_paths:
                    removed_df = local_rows_df(
                        self.spark, [(p,) for p in sorted(removed_paths)], "path string"
                    )
                    # driver-ok: bounded — deleted entries are this
                    # commit's own removal payload
                    for row in prev_files.join(removed_df, "path").collect():
                        deleted_entries.append(
                            self._entry_from_row(row, snapshot_id, STATUS_DELETED, ice_schema, spec)
                        )
                    live = prev_files.join(removed_df, "path", "left_anti")
                else:
                    live = prev_files
                carried_manifests = self._write_manifest_shards(
                    live, snapshot_id, ice_schema, spec,
                    spec_id=md.get("default-spec-id", 0),
                )
        added_entries = None
        added_manifests: list[dict] = []
        if adds is not None:
            # driver-ok: ONE Arrow collect — columnar, ~60 MB per million
            # files; it both sizes the write fan-out and feeds whichever
            # path runs, so the adds lineage (often a distributed footer
            # read) executes exactly once
            from onetable_spark.model import iter_inventory_rows

            arrow_adds = adds.toArrow()
            if arrow_adds.num_rows > _MANIFEST_SHARD_ENTRIES:
                # r13 (mega-commit profile): the driver's pure-Python avro
                # writer was the Iceberg commit wall at 1M entries
                # (write_datum ≈ 75% of a ~40 s commit, single-threaded —
                # BASELINE.md r13). Large appends now serialize as SHARDED
                # ADDED manifests on the executors, exactly like the
                # rewrite path's carried set — parallel ~100k-entry
                # serializations instead of one driver loop, the only
                # shape that holds on a real 1000-executor cluster.
                added_manifests = self._write_manifest_shards(
                    self.spark.createDataFrame(arrow_adds),
                    snapshot_id, ice_schema, spec,
                    spec_id=md.get("default-spec-id", 0),
                    v2_seq=(
                        (md.get("last-sequence-number", 0) + 1) if fv == 2 else None
                    ),
                    status=STATUS_ADDED,
                    n_rows=arrow_adds.num_rows,
                )
            else:
                # small adds: stream dicts off the collected Arrow table;
                # each entry is encoded into the manifest avro block as it
                # is produced (write_container consumes any iterable), so
                # neither a Row list nor an entry list ever materializes
                apt = {
                    f["name"]: f["type"][1]
                    for f in self._partition_avro_fields(ice_schema, spec)
                }
                n2i = _flat_fields(ice_schema)
                i2t = {f["id"]: f["type"] for f in ice_schema["fields"]}
                added_entries = _CountingEntries(
                    _entry_from_data(
                        row, snapshot_id, STATUS_ADDED, ice_schema, spec, apt, n2i, i2t
                    )
                    for row in iter_inventory_rows(adds, arrow_table=arrow_adds)
                )

        seq = (md.get("last-sequence-number", 0) + 1) if fv == 2 else None
        entry_schema = _manifest_entry_schema(
            self._partition_avro_fields(ice_schema, spec), v2=(fv == 2)
        )
        manifests = []
        for tag, entries in (
            ("added", added_entries),
            ("existing", carried),
            ("deleted", deleted_entries),
        ):
            if entries is None or (isinstance(entries, list) and not entries):
                continue
            mpath = os.path.join(self.metadata_dir, f"{uuid.uuid4().hex}-m-{tag}.avro")
            write_container(mpath, entry_schema, entries)
            if isinstance(entries, _CountingEntries):
                n_entries, rows_count = entries.count, entries.rows
                if n_entries == 0:  # adds DataFrame was empty
                    os.remove(mpath)
                    continue
            else:
                n_entries = len(entries)
                rows_count = sum(e["data_file"]["record_count"] for e in entries)
            manifests.append(
                {
                    "manifest_path": mpath,
                    "manifest_length": os.path.getsize(mpath),
                    "partition_spec_id": md.get("default-spec-id", 0),
                    **(
                        {"content": _CONTENT_DATA, "sequence_number": seq,
                         "min_sequence_number": seq,
                         # spec v2 field names (504-506 renamed from v1)
                         "added_files_count": n_entries if tag == "added" else 0,
                         "existing_files_count": n_entries if tag == "existing" else 0,
                         "deleted_files_count": n_entries if tag == "deleted" else 0}
                        if fv == 2
                        else {}
                    ),
                    "added_snapshot_id": snapshot_id,
                    "added_data_files_count": n_entries if tag == "added" else 0,
                    "existing_data_files_count": n_entries if tag == "existing" else 0,
                    "deleted_data_files_count": n_entries if tag == "deleted" else 0,
                    "added_rows_count": rows_count if tag == "added" else 0,
                    "existing_rows_count": rows_count if tag == "existing" else 0,
                    "deleted_rows_count": rows_count if tag == "deleted" else 0,
                }
            )
        mlist = os.path.join(self.metadata_dir, f"snap-{snapshot_id}-{uuid.uuid4().hex}.avro")
        # reused prior manifests (append fast path) go after this commit's
        # own manifests (sharded ADDED manifests first, when the large-
        # append path ran), keeping their original added_snapshot_id (and,
        # on v2, their original content/sequence fields)
        write_container(
            mlist,
            MANIFEST_LIST_SCHEMA_V2 if fv == 2 else MANIFEST_LIST_SCHEMA,
            added_manifests + manifests + carried_manifests,
        )

        # spec-complete operation metrics (real Iceberg writers populate
        # these; external tooling reads total-records off the summary
        # instead of decoding manifests) — all derivable from the
        # manifest-list records already in hand, no entry reads. Live
        # accounting: a live file appears as ADDED-or-EXISTING in exactly
        # one DATA manifest of the list (DELETED entries are separate rows
        # already excluded from those counts), so totals are plain sums;
        # content=1 (delete-file) manifests count delete files and are
        # excluded from data-file totals.
        own_m = added_manifests + manifests
        data_m = [
            m
            for m in own_m + carried_manifests
            if (m.get("content") or _CONTENT_DATA) == _CONTENT_DATA
        ]

        def _mc(m: dict, key: str, v2_key: str) -> int:
            # v1/v2 field-name + null tolerant: carried lists can be
            # foreign-authored or carry avro nulls for optional counts
            v = m.get(key)
            if v is None:
                v = m.get(v2_key)
            return int(v or 0)

        summary = {
            # Iceberg stamps operation by WHAT HAPPENED, not table age: a
            # commit that removes nothing is an "append" even on a
            # non-empty table (AppendFiles parity; the r13 form stamped
            # every post-first commit "overwrite", which would make real
            # Iceberg streaming readers — append-only by contract —
            # refuse a synced table's plain adds)
            "operation": "overwrite" if removed_paths else "append",
            "added-data-files": str(
                sum(_mc(m, "added_data_files_count", "added_files_count") for m in own_m)
            ),
            "added-records": str(sum(_mc(m, "added_rows_count", "added_rows_count") for m in own_m)),
            "deleted-data-files": str(
                sum(_mc(m, "deleted_data_files_count", "deleted_files_count") for m in own_m)
            ),
            "deleted-records": str(
                sum(_mc(m, "deleted_rows_count", "deleted_rows_count") for m in own_m)
            ),
            "total-data-files": str(
                sum(
                    _mc(m, "added_data_files_count", "added_files_count")
                    + _mc(m, "existing_data_files_count", "existing_files_count")
                    for m in data_m
                )
            ),
            "total-records": str(
                sum(
                    _mc(m, "added_rows_count", "added_rows_count")
                    + _mc(m, "existing_rows_count", "existing_rows_count")
                    for m in data_m
                )
            ),
        }
        snapshot = {
            "snapshot-id": snapshot_id,
            "timestamp-ms": now,
            "summary": summary,
            "manifest-list": mlist,
            "schema-id": md.get("current-schema-id", 0),
        }
        if fv == 2:
            snapshot["sequence-number"] = seq
            md["last-sequence-number"] = seq
        if prev is not None:
            snapshot["parent-snapshot-id"] = prev["snapshot-id"]
        md["snapshots"] = md.get("snapshots", []) + [snapshot]
        if branch is not None:
            # WAP staging: the snapshot exists but main does not move —
            # only the branch ref advances (tags refuse to move)
            if branch == "main":
                raise ValueError("'main' is the implicit current branch")
            existing = md.get("refs", {}).get(branch)
            if existing is not None and existing.get("type") == "tag":
                raise ValueError(
                    f"{self.table_path}: tag {branch!r} is immutable"
                )
            md.setdefault("refs", {})[branch] = {
                "snapshot-id": snapshot_id,
                "type": "branch",
            }
        else:
            md["current-snapshot-id"] = snapshot_id
            md.setdefault("snapshot-log", []).append(
                {"timestamp-ms": now, "snapshot-id": snapshot_id}
            )
        md["last-updated-ms"] = now
        if properties:
            md["properties"] = {**md.get("properties", {}), **properties}
        if expire_older_than_millis is not None:
            self._expire(md, expire_older_than_millis)
        self._write_metadata(version + 1, md)
        return snapshot_id

    def commit_position_deletes(
        self, positions: DataFrame, max_retries: int = 3
    ) -> int:
        """One v2 merge-on-read DELETE commit: write the ``(path, pos)``
        rows as a spec-shaped position-delete parquet (sorted by
        file_path then pos, reserved field ids 2147483546/2147483545)
        plus a DELETE manifest (content=1, explicit sequence number), and
        a manifest list carrying the prior manifests verbatim. The Delta
        half of reverse delete translation: a Delta table's deletion
        vectors become position deletes an Iceberg reader honors
        row-for-row. v2 tables only. Partitioned specs (r12): delete
        files are PARTITION-SCOPED — positions join the current data
        manifests to inherit each target file's partition tuple, one
        delete parquet is written per tuple (executor tasks), and every
        manifest entry carries its typed partition struct so real
        readers can prune delete files against data manifests. A
        position targeting a file outside the current snapshot refuses
        loudly (its partition tuple is underivable and the delete could
        never apply)."""
        for attempt in range(max_retries):
            try:
                return self._commit_position_deletes_once(positions)
            except CommitConflictError:
                if attempt == max_retries - 1:
                    raise
                time.sleep(0.02 * (attempt + 1))
        raise AssertionError("unreachable")

    def _commit_position_deletes_once(self, positions: DataFrame) -> int:
        version = self.current_version()
        md = self.metadata(version)
        if md.get("format-version", 1) != 2:
            raise ValueError(
                f"{self.table_path}: position deletes need a format-version-2 "
                "table (init_table(format_version=2))"
            )
        spec = self._spec_for(md)
        ice_schema = self._schema_for(md)
        now = int(time.time() * 1000)
        snapshot_id = int.from_bytes(os.urandom(7), "big")
        seq = md.get("last-sequence-number", 0) + 1
        data_dir = os.path.join(self.table_path, "data")
        os.makedirs(data_dir, exist_ok=True)

        distinct = positions.select("path", "pos").distinct()
        if spec:
            # partition-scoped delete files: each position inherits the
            # partition tuple of the data file it targets, read off the
            # CURRENT data manifests
            prev_snap = self.current_snapshot_meta(md)
            if prev_snap is None:
                raise ValueError(
                    f"{self.table_path}: position deletes target an empty table"
                )
            _, prior = read_container(prev_snap["manifest-list"])
            data_manifests, _ = _split_manifests(prior)
            inv = self._decode_manifests(
                [m["manifest_path"] for m in data_manifests], ice_schema, spec,
                statuses=(STATUS_ADDED, STATUS_EXISTING),
            ).select("path", F.to_json("partition_values").alias("_pk"))
            keyed = distinct.join(inv, "path")
            # a position for a file outside the snapshot has no partition
            # tuple and could never apply — refuse, don't drop silently
            # driver-ok: two count scalars guarding the join
            n_pos, n_keyed = distinct.count(), keyed.count()
            if n_keyed != n_pos:
                raise ValueError(
                    f"{self.table_path}: {n_pos - n_keyed} delete position(s) "
                    "target files absent from the current snapshot"
                )
        else:
            keyed = distinct.withColumn("_pk", F.lit("{}"))

        def write_group(key, pdf):
            import pyarrow as pa
            import pyarrow.parquet as pq

            pdf = pdf.sort_values(["path", "pos"])
            schema = pa.schema(
                [
                    pa.field("file_path", pa.string(),
                             metadata={"PARQUET:field_id": "2147483546"}),
                    pa.field("pos", pa.int64(),
                             metadata={"PARQUET:field_id": "2147483545"}),
                ]
            )
            t = pa.table(
                {"file_path": pdf["path"].astype(str), "pos": pdf["pos"].astype("int64")},
                schema=schema,
            )
            out = os.path.join(data_dir, f"pos-deletes-{uuid.uuid4().hex}.parquet")
            pq.write_table(t, out)
            return pd.DataFrame(
                [{"del_path": out, "n": len(pdf), "pk": key[0]}]
            )

        # one executor task per partition tuple writes its sorted delete
        # parquet (the delete volume is O(deleted rows)); eager
        # localCheckpoint pins the side-effecting run so the entry loop
        # below reads ONE materialized mapping, not a re-execution
        groups = keyed.groupBy("_pk").applyInPandas(
            write_group, "del_path string, n long, pk string"
        ).localCheckpoint(eager=True)
        # driver-ok: one row per PARTITION TUPLE (the commit payload)
        group_rows = groups.collect()
        n_rows = sum(int(r["n"]) for r in group_rows)

        apt = {
            f["name"]: f["type"][1]
            for f in self._partition_avro_fields(ice_schema, spec)
        }
        entry_schema = _manifest_entry_schema(
            self._partition_avro_fields(ice_schema, spec), v2=True, deletes=True
        )
        mpath = os.path.join(self.metadata_dir, f"{uuid.uuid4().hex}-m-deletes.avro")
        write_container(
            mpath,
            entry_schema,
            [
                {
                    "status": STATUS_ADDED,
                    "snapshot_id": snapshot_id,
                    "sequence_number": seq,
                    "file_sequence_number": seq,
                    "data_file": {
                        "content": _CONTENT_POSITION_DELETES,
                        "file_path": r["del_path"],
                        "file_format": "PARQUET",
                        "partition": _avro_partition(
                            json.loads(r["pk"]), spec, apt
                        ),
                        "record_count": int(r["n"]),
                        "file_size_in_bytes": os.path.getsize(r["del_path"]),
                        "block_size_in_bytes": 67108864,
                        "value_counts": None,
                        "null_value_counts": None,
                        "lower_bounds": None,
                        "upper_bounds": None,
                        "equality_ids": None,
                    },
                }
                for r in group_rows
            ],
        )
        prev = self.current_snapshot_meta(md)
        carried = []
        if prev is not None and prev.get("manifest-list"):
            _, carried = read_container(prev["manifest-list"])
        delete_manifest = {
            "manifest_path": mpath,
            "manifest_length": os.path.getsize(mpath),
            "partition_spec_id": md.get("default-spec-id", 0),
            "content": _CONTENT_POSITION_DELETES,
            "sequence_number": seq,
            "min_sequence_number": seq,
            "added_files_count": len(group_rows),
            "existing_files_count": 0,
            "deleted_files_count": 0,
            "added_snapshot_id": snapshot_id,
            "added_data_files_count": len(group_rows),
            "existing_data_files_count": 0,
            "deleted_data_files_count": 0,
            "added_rows_count": n_rows,
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }
        mlist = os.path.join(
            self.metadata_dir, f"snap-{snapshot_id}-{uuid.uuid4().hex}.avro"
        )
        write_container(mlist, MANIFEST_LIST_SCHEMA_V2, carried + [delete_manifest])
        snapshot = {
            "snapshot-id": snapshot_id,
            "sequence-number": seq,
            "timestamp-ms": now,
            "summary": {"operation": "delete", "deleted-records": str(n_rows)},
            "manifest-list": mlist,
            "schema-id": md.get("current-schema-id", 0),
        }
        if prev is not None:
            snapshot["parent-snapshot-id"] = prev["snapshot-id"]
        md["snapshots"] = md.get("snapshots", []) + [snapshot]
        md["current-snapshot-id"] = snapshot_id
        md["last-sequence-number"] = seq
        md["last-updated-ms"] = now
        md.setdefault("snapshot-log", []).append(
            {"timestamp-ms": now, "snapshot-id": snapshot_id}
        )
        self._write_metadata(version + 1, md)
        return snapshot_id

    #: iceberg primitive → (arrow builder name, spark sql type) for the
    #: equality-delete writer's key columns
    _EQ_KEY_TYPES = {
        "int": ("int32", "int"),
        "long": ("int64", "bigint"),
        "string": ("string", "string"),
        "boolean": ("bool_", "boolean"),
        "double": ("float64", "double"),
        "float": ("float32", "float"),
    }

    def commit_equality_deletes(
        self, tuples: DataFrame, field_names: list[str], max_retries: int = 3
    ) -> int:
        """One v2 merge-on-read DELETE commit carrying EQUALITY deletes:
        the tuples (one row per deleted key, columns = ``field_names``)
        are written as a spec-shaped equality-delete parquet (content=2,
        ``equality_ids`` on the manifest entry, key columns carrying
        their schema field ids) that applies to every data file with a
        STRICTLY LOWER data sequence number. The write twin of the
        data-assisted scan (``apply_equality_deletes=True``) and of the
        eq-delete half of ``rewrite_data_files``; the reference cannot
        author (or even read) delete files at all
        (IcebergSourceClient.java:169-194). v2 tables; top-level
        primitive key fields; partitioned specs refuse HERE (caller
        tuples carry no partition scope) but work through
        ``commit_upsert``, whose delete files inherit each added file's
        partition tuple."""
        for attempt in range(max_retries):
            try:
                return self._commit_upsert_once(None, tuples, field_names)
            except CommitConflictError:
                if attempt == max_retries - 1:
                    raise
                time.sleep(0.02 * (attempt + 1))
        raise AssertionError("unreachable")

    def commit_upsert(
        self,
        adds: DataFrame,
        key_fields: list[str],
        max_retries: int = 3,
        properties: Optional[dict[str, str]] = None,
    ) -> int:
        """Flink-style CDC UPSERT as ONE v2 snapshot: an equality-delete
        file holding the new rows' key tuples (read off the added parquet
        on executors) plus the new data files, both at the same sequence
        number. The spec's strict rule (an equality delete applies only
        to data files with data_seq < delete_seq) makes this atomic
        upsert semantics: every OLD row with a matching key dies, the
        NEW rows — same sequence number — are untouched. This is the
        streaming-ingest pattern Flink/Iceberg writers use for CDC
        streams; chained upserts stack (later keys net earlier upserts'
        files too). ``adds`` is a FILES_SCHEMA inventory of already-
        written parquet. Partitioned specs (r12): one equality-delete
        file per partition tuple, each scoped to the partition of the
        add file its keys came from — the standard upsert-materialize
        assumption (a key never changes partition; the contract Flink's
        upsert sink documents). ``properties`` merge into table
        properties in the SAME metadata swap (the streaming sink's
        exactly-once batch-id record)."""
        for attempt in range(max_retries):
            try:
                return self._commit_upsert_once(
                    adds, None, key_fields, properties=properties
                )
            except CommitConflictError:
                if attempt == max_retries - 1:
                    raise
                time.sleep(0.02 * (attempt + 1))
        raise AssertionError("unreachable")

    def _commit_upsert_once(
        self,
        adds: Optional[DataFrame],
        tuples: Optional[DataFrame],
        field_names: list[str],
        properties: Optional[dict[str, str]] = None,
    ) -> int:
        version = self.current_version()
        md = self.metadata(version)
        if md.get("format-version", 1) != 2:
            raise ValueError(
                f"{self.table_path}: equality deletes need a format-version-2 "
                "table (init_table(format_version=2))"
            )
        spec = self._spec_for(md)
        if spec and adds is None:
            raise ValueError(
                f"{self.table_path}: pure equality-delete commits on "
                "partitioned specs are not implemented (caller tuples carry "
                "no partition scope) — use commit_upsert, whose delete "
                "files inherit each added file's partition tuple"
            )
        if not field_names:
            raise ValueError("equality deletes need at least one key field")
        ice_schema = self._schema_for(md)
        by_name = {f["name"]: f for f in ice_schema["fields"]}
        ids, ice_types = [], {}
        for n in field_names:
            f = by_name.get(n)
            if f is None or not isinstance(f["type"], str):
                raise ValueError(
                    f"{self.table_path}: equality key {n!r} is not a "
                    "top-level primitive column"
                )
            if f["type"] not in self._EQ_KEY_TYPES:
                raise ValueError(
                    f"{self.table_path}: equality key {n!r} has type "
                    f"{f['type']!r}; supported: {sorted(self._EQ_KEY_TYPES)}"
                )
            ids.append(int(f["id"]))
            ice_types[n] = f["type"]

        now = int(time.time() * 1000)
        snapshot_id = int.from_bytes(os.urandom(7), "big")
        seq = md.get("last-sequence-number", 0) + 1
        data_dir = os.path.join(self.table_path, "data")
        os.makedirs(data_dir, exist_ok=True)
        names = list(field_names)
        types_for = dict(ice_types)
        key_types = dict(self._EQ_KEY_TYPES)
        field_ids = {n: i for n, i in zip(names, ids)}

        if tuples is None:
            # upsert: the delete tuples ARE the new rows' keys, read off
            # the added parquet on executors (what a Flink writer tracks
            # from the rows it just wrote). On partitioned specs each
            # tuple inherits its SOURCE file's partition (the standard
            # upsert-materialize assumption: a key never changes
            # partition — same contract Flink's upsert sink documents).
            def read_keys(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                for pdf in batches:
                    frames = []
                    for p, pk in zip(pdf["path"], pdf["_pk"]):
                        t = _read_leaf_columns(p, names).to_pandas(
                            integer_object_nulls=True
                        )
                        t["_pk"] = pk
                        frames.append(t)
                    yield (
                        pd.concat(frames)
                        if frames
                        else pd.DataFrame(columns=names + ["_pk"])
                    )

            spark_schema = ", ".join(
                [f"`{n}` {key_types[types_for[n]][1]}" for n in names]
                + ["`_pk` string"]
            )
            key_src = adds.select(
                "path",
                F.to_json(
                    F.coalesce(F.col("partition_values"), F.expr("map()"))
                ).alias("_pk"),
            )
            tuples = key_src.mapInPandas(read_keys, spark_schema)
        else:
            missing = set(names) - set(tuples.columns)
            if missing:
                raise ValueError(f"tuple frame lacks key column(s) {sorted(missing)}")
            tuples = tuples.select(*names).withColumn("_pk", F.lit("{}"))

        def write_eq(key, pdf):
            import pyarrow as pa
            import pyarrow.parquet as pq

            pdf = pdf.drop_duplicates(subset=names).sort_values(names)
            arrays, pa_fields = [], []
            for n in names:
                typ = getattr(pa, key_types[types_for[n]][0])()
                arrays.append(pa.Array.from_pandas(pdf[n], type=typ))
                pa_fields.append(
                    pa.field(
                        n, typ,
                        metadata={"PARQUET:field_id": str(field_ids[n])},
                    )
                )
            out = os.path.join(data_dir, f"eq-deletes-{uuid.uuid4().hex}.parquet")
            pq.write_table(
                pa.Table.from_arrays(arrays, schema=pa.schema(pa_fields)), out
            )
            return pd.DataFrame(
                [{"del_path": out, "n": len(pdf), "pk": key[0]}]
            )

        # one executor task per partition tuple writes its sorted, deduped
        # tuple parquet (tuple volume is O(changed rows)); the run writes
        # files, so it is collected exactly once
        groups = (
            tuples.distinct()
            .groupBy("_pk")
            .applyInPandas(write_eq, "del_path string, n long, pk string")
        )
        # driver-ok: one row per PARTITION TUPLE (the commit payload)
        group_rows = [r for r in groups.collect() if int(r["n"])]
        n_rows = sum(int(r["n"]) for r in group_rows)

        part_fields = self._partition_avro_fields(ice_schema, spec)
        apt = {f["name"]: f["type"][1] for f in part_fields}
        manifests = []
        if n_rows:
            entry_schema = _manifest_entry_schema(part_fields, v2=True, deletes=True)
            mpath = os.path.join(
                self.metadata_dir, f"{uuid.uuid4().hex}-m-eqdeletes.avro"
            )
            write_container(
                mpath,
                entry_schema,
                [
                    {
                        "status": STATUS_ADDED,
                        "snapshot_id": snapshot_id,
                        "sequence_number": seq,
                        "file_sequence_number": seq,
                        "data_file": {
                            "content": _CONTENT_EQUALITY_DELETES,
                            "file_path": r["del_path"],
                            "file_format": "PARQUET",
                            "partition": _avro_partition(
                                json.loads(r["pk"]), spec, apt
                            ),
                            "record_count": int(r["n"]),
                            "file_size_in_bytes": os.path.getsize(r["del_path"]),
                            "block_size_in_bytes": 67108864,
                            "value_counts": None,
                            "null_value_counts": None,
                            "lower_bounds": None,
                            "upper_bounds": None,
                            "equality_ids": ids,
                        },
                    }
                    for r in group_rows
                ],
            )
            manifests.append(
                {
                    "manifest_path": mpath,
                    "manifest_length": os.path.getsize(mpath),
                    "partition_spec_id": md.get("default-spec-id", 0),
                    "content": 1,
                    "sequence_number": seq,
                    "min_sequence_number": seq,
                    "added_files_count": len(group_rows),
                    "existing_files_count": 0,
                    "deleted_files_count": 0,
                    "added_snapshot_id": snapshot_id,
                    "added_data_files_count": len(group_rows),
                    "existing_data_files_count": 0,
                    "deleted_data_files_count": 0,
                    "added_rows_count": n_rows,
                    "existing_rows_count": 0,
                    "deleted_rows_count": 0,
                }
            )

        if adds is not None:
            from onetable_spark.model import iter_inventory_rows

            n2i = _flat_fields(ice_schema)
            i2t = {f["id"]: f["type"] for f in ice_schema["fields"]}
            entries = _CountingEntries(
                _entry_from_data(
                    row, snapshot_id, STATUS_ADDED, ice_schema, spec, apt, n2i, i2t
                )
                for row in iter_inventory_rows(adds)
            )
            dpath = os.path.join(self.metadata_dir, f"{uuid.uuid4().hex}-m-upsert.avro")
            write_container(
                dpath, _manifest_entry_schema(part_fields, v2=True), entries
            )
            if entries.count == 0:
                os.remove(dpath)
            else:
                manifests.append(
                    {
                        "manifest_path": dpath,
                        "manifest_length": os.path.getsize(dpath),
                        "partition_spec_id": md.get("default-spec-id", 0),
                        "content": _CONTENT_DATA,
                        "sequence_number": seq,
                        "min_sequence_number": seq,
                        "added_files_count": entries.count,
                        "existing_files_count": 0,
                        "deleted_files_count": 0,
                        "added_snapshot_id": snapshot_id,
                        "added_data_files_count": entries.count,
                        "existing_data_files_count": 0,
                        "deleted_data_files_count": 0,
                        "added_rows_count": entries.rows,
                        "existing_rows_count": 0,
                        "deleted_rows_count": 0,
                    }
                )

        prev = self.current_snapshot_meta(md)
        carried = []
        if prev is not None and prev.get("manifest-list"):
            _, carried = read_container(prev["manifest-list"])
        # same 100-manifest guard as the commit_overwrite append path
        # (ManifestMergeManager parity): a streaming upsert loop carries
        # every prior manifest verbatim and appends 1-2 per batch — past
        # the threshold the list grows without bound. compact_manifests
        # folds the DATA manifests; rewrite_data_files(apply_equality_
        # deletes=True) additionally materializes + DROPS the delete
        # manifests, so between them the list returns far under guard.
        if len(carried) >= 100:
            raise ValueError(
                f"{self.table_path}: the upsert commit path is at the "
                f"{len(carried)}-manifest guard — run compact_manifests() "
                "(folds data manifests) and/or rewrite_data_files("
                "apply_equality_deletes=True) (applies and drops delete "
                "manifests), then retry this upsert"
            )
        mlist = os.path.join(
            self.metadata_dir, f"snap-{snapshot_id}-{uuid.uuid4().hex}.avro"
        )
        write_container(mlist, MANIFEST_LIST_SCHEMA_V2, carried + manifests)
        snapshot = {
            "snapshot-id": snapshot_id,
            "sequence-number": seq,
            "timestamp-ms": now,
            "summary": {
                "operation": "overwrite" if adds is not None else "delete",
                "equality-delete-tuples": str(n_rows),
            },
            "manifest-list": mlist,
            "schema-id": md.get("current-schema-id", 0),
        }
        if prev is not None:
            snapshot["parent-snapshot-id"] = prev["snapshot-id"]
        md["snapshots"] = md.get("snapshots", []) + [snapshot]
        md["current-snapshot-id"] = snapshot_id
        md["last-sequence-number"] = seq
        md["last-updated-ms"] = now
        md.setdefault("snapshot-log", []).append(
            {"timestamp-ms": now, "snapshot-id": snapshot_id}
        )
        if properties:
            md["properties"] = {**md.get("properties", {}), **properties}
        self._write_metadata(version + 1, md)
        return snapshot_id

    def rewrite_data_files(
        self, apply_equality_deletes: bool = False, max_retries: int = 3
    ) -> Optional[int]:
        """COMPACTION that APPLIES row-level deletes (r12): every data
        file with applicable position (and, opted-in, equality) deletes
        is rewritten WITHOUT the dead rows into a new parquet, and one
        REPLACE snapshot publishes the result — new files ADDED at the
        new sequence number (inherited), untouched files carried as
        EXISTING entries with their ORIGINAL sequence numbers explicit
        (v2 inheritance applies only to ADDED entries; inheriting here
        would wrongly re-scope them), replaced files as DELETED entries,
        and the delete manifests dropped entirely. Dropping them is
        value-exact: a surviving delete tuple matched zero rows in the
        carried files (it produced no positions) and can never apply to
        the new files (their data sequence number exceeds every delete's).

        This is the operation the equality-delete refusals point at —
        the Iceberg sibling of ``HudiTimeline.compact_file_groups``. The
        reference has no compaction (and silently ignores delete files,
        IcebergSourceClient.java:169-194). Rewrites run one affected file
        per task (applyInPandas); carried EXISTING entries stream through
        the Arrow-batched entry iterator, the same driver bound every
        commit plane here accepts. Returns the replace snapshot id, or
        None when no delete resolves to a live position."""
        for attempt in range(max_retries):
            try:
                return self._rewrite_data_files_once(apply_equality_deletes)
            except CommitConflictError:
                if attempt == max_retries - 1:
                    raise
                time.sleep(0.02 * (attempt + 1))
        raise AssertionError("unreachable")

    def _rewrite_data_files_once(self, apply_equality: bool) -> Optional[int]:
        version = self.current_version()
        md = self.metadata(version)
        snap = self.current_snapshot_meta(md)
        if snap is None:
            return None
        _, manifests = read_container(snap["manifest-list"])
        data, deletes = _split_manifests(manifests)
        if not deletes:
            return None
        ice_schema = self._schema_for(md)
        spec = self._spec_for(md)
        base = self._decode_manifests(
            [m["manifest_path"] for m in data], ice_schema, spec,
            statuses=(STATUS_ADDED, STATUS_EXISTING),
            seq_by_manifest={
                m["manifest_path"]: m.get("sequence_number", 0) for m in data
            },
        )
        positions = self._deleted_positions(
            base, deletes, ice_schema=ice_schema, apply_equality=apply_equality
        )
        # driver-ok: emptiness probe, one boolean
        if positions.isEmpty():
            return None

        table_path = self.table_path
        data_dir = os.path.join(table_path, "data")
        os.makedirs(data_dir, exist_ok=True)

        def rewrite(key, pdf):
            import numpy as np
            import pyarrow.parquet as pq

            path = key[0]
            t = pq.read_table(path)
            # vectorized complement (r13): setdiff1d over the position
            # range, not a per-row Python membership loop
            dead = pdf["pos"].to_numpy(dtype=np.int64)
            survivors = np.setdiff1d(np.arange(len(t), dtype=np.int64), dead)
            # the replacement lives NEXT TO its source — a partitioned
            # layout keeps its hive dirs, a flat one its data/ dir
            out = os.path.join(
                os.path.dirname(path) or data_dir,
                f"rewritten-{uuid.uuid4().hex}.parquet",
            )
            pq.write_table(t.take(survivors), out)
            return pd.DataFrame([{"old_path": path, "new_path": out}])

        # eager localCheckpoint: the rewrite WRITES files — the commit
        # below must read one materialized run, not re-execute
        mapping = (
            positions.groupBy("path")
            .applyInPandas(rewrite, "old_path string, new_path string")
            .localCheckpoint(eager=True)
        )
        # driver-ok: one row per AFFECTED file (the rewrite payload)
        pairs = mapping.collect()
        old_paths = [r["old_path"] for r in pairs]
        new_paths = sorted(r["new_path"] for r in pairs)

        from onetable_spark.model import iter_inventory_rows
        from onetable_spark.sources.parquet_inventory import build_inventory

        new_inv = build_inventory(self.spark, new_paths, root=table_path)
        if spec:
            # a rewrite of ONE file preserves its partition tuple — carry
            # the SOURCE file's partition values onto its replacement
            # rather than trusting hive-dir inference (identity transforms
            # on non-string types and transformed specs don't round-trip
            # through directory names)
            carry = mapping.join(
                base.select(
                    F.col("path").alias("old_path"),
                    F.col("partition_values").alias("_src_pv"),
                ),
                "old_path",
            ).select(F.col("new_path").alias("path"), "_src_pv")
            new_inv = (
                new_inv.join(carry, "path", "left")
                .withColumn(
                    "partition_values", F.coalesce("_src_pv", "partition_values")
                )
                .drop("_src_pv")
            )
        old_df = local_rows_df(
            self.spark, [(p,) for p in old_paths], "path string"
        )
        carried = base.join(old_df, "path", "left_anti")
        replaced = base.join(old_df, "path")

        now = int(time.time() * 1000)
        snapshot_id = int.from_bytes(os.urandom(7), "big")
        fv = md.get("format-version", 1)
        seq = (md.get("last-sequence-number", 0) + 1) if fv == 2 else None
        apt = {
            f["name"]: f["type"][1]
            for f in self._partition_avro_fields(ice_schema, spec)
        }
        n2i = _flat_fields(ice_schema)
        i2t = {f["id"]: f["type"] for f in ice_schema["fields"]}
        entry_schema = _manifest_entry_schema(
            self._partition_avro_fields(ice_schema, spec), v2=(fv == 2)
        )

        def explicit_seq(row, status: int) -> dict:
            e = _entry_from_data(
                row, snapshot_id, status, ice_schema, spec, apt, n2i, i2t
            )
            if fv == 2:
                # EXISTING/DELETED entries must carry their original data
                # sequence number explicitly — inheritance is ADDED-only
                e["sequence_number"] = int(row["_seq"])
                e["file_sequence_number"] = int(row["_seq"])
            return e

        added_entries = _CountingEntries(
            _entry_from_data(
                row, snapshot_id, STATUS_ADDED, ice_schema, spec, apt, n2i, i2t
            )
            for row in iter_inventory_rows(new_inv)
        )
        carried_entries = _CountingEntries(
            explicit_seq(row, STATUS_EXISTING)
            for row in iter_inventory_rows(carried)
        )
        # driver-ok: bounded — this commit's own removal payload
        deleted_entries = [
            explicit_seq(row, STATUS_DELETED) for row in replaced.collect()
        ]
        # driver-ok: one MIN scalar for the existing manifest's seq floor
        min_carried = carried.agg(F.min("_seq")).first()[0]

        out_manifests = []
        for tag, entries in (
            ("added", added_entries),
            ("existing", carried_entries),
            ("deleted", deleted_entries),
        ):
            mpath = os.path.join(
                self.metadata_dir, f"{uuid.uuid4().hex}-m-rw-{tag}.avro"
            )
            write_container(mpath, entry_schema, entries)
            if isinstance(entries, _CountingEntries):
                n_entries, rows_count = entries.count, entries.rows
            else:
                n_entries = len(entries)
                rows_count = sum(e["data_file"]["record_count"] for e in entries)
            if n_entries == 0:
                os.remove(mpath)
                continue
            min_seq = seq if tag == "added" else (
                int(min_carried) if tag == "existing" and min_carried is not None
                else seq
            )
            out_manifests.append(
                {
                    "manifest_path": mpath,
                    "manifest_length": os.path.getsize(mpath),
                    "partition_spec_id": md.get("default-spec-id", 0),
                    **(
                        {"content": _CONTENT_DATA, "sequence_number": seq,
                         "min_sequence_number": min_seq,
                         "added_files_count": n_entries if tag == "added" else 0,
                         "existing_files_count": n_entries if tag == "existing" else 0,
                         "deleted_files_count": n_entries if tag == "deleted" else 0}
                        if fv == 2
                        else {}
                    ),
                    "added_snapshot_id": snapshot_id,
                    "added_data_files_count": n_entries if tag == "added" else 0,
                    "existing_data_files_count": n_entries if tag == "existing" else 0,
                    "deleted_data_files_count": n_entries if tag == "deleted" else 0,
                    "added_rows_count": rows_count if tag == "added" else 0,
                    "existing_rows_count": rows_count if tag == "existing" else 0,
                    "deleted_rows_count": rows_count if tag == "deleted" else 0,
                }
            )
        mlist = os.path.join(
            self.metadata_dir, f"snap-{snapshot_id}-{uuid.uuid4().hex}.avro"
        )
        write_container(
            mlist,
            MANIFEST_LIST_SCHEMA_V2 if fv == 2 else MANIFEST_LIST_SCHEMA,
            out_manifests,
        )
        snapshot = {
            "snapshot-id": snapshot_id,
            "timestamp-ms": now,
            "summary": {
                "operation": "replace",
                "rewritten-data-files": str(len(old_paths)),
                "removed-delete-files": str(
                    sum(int(m.get("added_files_count") or m.get("added_data_files_count") or 0) for m in deletes)
                ),
            },
            "manifest-list": mlist,
            "schema-id": md.get("current-schema-id", 0),
            "parent-snapshot-id": snap["snapshot-id"],
        }
        if fv == 2:
            snapshot["sequence-number"] = seq
            md["last-sequence-number"] = seq
        md["snapshots"] = md.get("snapshots", []) + [snapshot]
        md["current-snapshot-id"] = snapshot_id
        md["last-updated-ms"] = now
        md.setdefault("snapshot-log", []).append(
            {"timestamp-ms": now, "snapshot-id": snapshot_id}
        )
        self._write_metadata(version + 1, md)
        return snapshot_id

    def compact_manifests(
        self, threshold: int = 100, max_retries: int = 3
    ) -> Optional[int]:
        """Fold the current snapshot's DATA manifests into sharded
        EXISTING manifests and publish one REPLACE snapshot — Iceberg's
        ``rewrite_manifests`` action. v1 AND v2: on a format-version-2
        table every carried entry writes its ORIGINAL data sequence
        number explicitly (ADDED-only inheritance — folding without
        explicit seqs would re-scope older position/equality deletes
        onto newer data), shard manifests carry true
        ``min_sequence_number``s, and delete manifests ride along
        VERBATIM so row-level deletes keep applying bit-identically.
        This closes the r11 refusal on the v2 append path ("v2 manifest
        compaction ... not implemented"): a v2 table past ``threshold``
        data manifests folds here instead of refusing forever. Runs as
        the sharded executor-side manifest writer — O(table) entries
        never land on the driver. Returns the replace snapshot id, or
        None below the threshold."""
        for attempt in range(max_retries):
            try:
                return self._compact_manifests_once(threshold)
            except CommitConflictError:
                if attempt == max_retries - 1:
                    raise
                time.sleep(0.02 * (attempt + 1))
        raise AssertionError("unreachable")

    def _compact_manifests_once(self, threshold: int) -> Optional[int]:
        version = self.current_version()
        md = self.metadata(version)
        snap = self.current_snapshot_meta(md)
        if snap is None:
            return None
        _, manifests = read_container(snap["manifest-list"])
        data, deletes = _split_manifests(manifests)
        if len(data) < threshold:
            return None
        fv = md.get("format-version", 1)
        ice_schema = self._schema_for(md)
        spec = self._spec_for(md)
        now = int(time.time() * 1000)
        snapshot_id = int.from_bytes(os.urandom(7), "big")
        seq = (md.get("last-sequence-number", 0) + 1) if fv == 2 else None
        base = self._decode_manifests(
            [m["manifest_path"] for m in data], ice_schema, spec,
            statuses=(STATUS_ADDED, STATUS_EXISTING),
            **(
                {"seq_by_manifest": {
                    m["manifest_path"]: m.get("sequence_number", 0) for m in data
                }}
                if fv == 2
                else {}
            ),
        )
        shards = self._write_manifest_shards(
            base, snapshot_id, ice_schema, spec,
            spec_id=md.get("default-spec-id", 0),
            v2_seq=seq if fv == 2 else None,
        )
        mlist = os.path.join(
            self.metadata_dir, f"snap-{snapshot_id}-{uuid.uuid4().hex}.avro"
        )
        write_container(
            mlist,
            MANIFEST_LIST_SCHEMA_V2 if fv == 2 else MANIFEST_LIST_SCHEMA,
            shards + deletes,
        )
        snapshot = {
            "snapshot-id": snapshot_id,
            "timestamp-ms": now,
            "summary": {
                "operation": "replace",
                "manifests-replaced": str(len(data)),
                "manifests-created": str(len(shards)),
            },
            "manifest-list": mlist,
            "schema-id": md.get("current-schema-id", 0),
            "parent-snapshot-id": snap["snapshot-id"],
        }
        if fv == 2:
            snapshot["sequence-number"] = seq
            md["last-sequence-number"] = seq
        md["snapshots"] = md.get("snapshots", []) + [snapshot]
        md["current-snapshot-id"] = snapshot_id
        md["last-updated-ms"] = now
        md.setdefault("snapshot-log", []).append(
            {"timestamp-ms": now, "snapshot-id": snapshot_id}
        )
        self._write_metadata(version + 1, md)
        return snapshot_id

    def _expire(self, md: dict, older_than_millis: int) -> None:
        """Expire snapshots older than the retention horizon, keeping the
        current one and any ancestor chain integrity. Manifest lists and
        manifests referenced ONLY by expired snapshots are physically
        deleted (ExpireSnapshots file-cleanup parity) — without this the
        append fast path would leak one manifest file per commit forever."""
        current = md.get("current-snapshot-id")
        # refs protect their heads (r12): an expired-but-tagged snapshot
        # would dangle every branch/tag pointing at it
        pinned = {current} | {
            int(r["snapshot-id"]) for r in md.get("refs", {}).values()
        }
        all_snaps = md.get("snapshots", [])
        kept = [
            s
            for s in all_snaps
            if s["snapshot-id"] in pinned or s["timestamp-ms"] >= older_than_millis
        ]
        expired = [s for s in all_snaps if s not in kept]
        md["snapshots"] = kept
        kept_ids = {s["snapshot-id"] for s in kept}
        md["snapshot-log"] = [e for e in md.get("snapshot-log", []) if e["snapshot-id"] in kept_ids]
        if not expired:
            return
        # reference-counted cleanup: a manifest shared with a live snapshot
        # (the append fast path reuses them verbatim) must survive
        still_referenced: set[str] = set()
        for s in kept:
            try:
                _, ms = read_container(s["manifest-list"])
                still_referenced.update(m["manifest_path"] for m in ms)
            except (OSError, ValueError):
                continue
        for s in expired:
            mlist = s.get("manifest-list")
            if not mlist or not os.path.exists(mlist):
                continue
            try:
                _, ms = read_container(mlist)
            except (OSError, ValueError):
                continue
            for m in ms:
                p = m["manifest_path"]
                if p not in still_referenced and os.path.exists(p):
                    os.unlink(p)
            os.unlink(mlist)

    # ---------------------------------------------------------- refs (r12)
    # Branches and tags (spec §Refs): named snapshot pointers in
    # metadata.json's ``refs`` map. Tags are immutable audit marks;
    # branches are movable heads — together they carry the WAP
    # (write-audit-publish) pattern: stage a snapshot on a branch
    # (commit_overwrite(branch=...)), audit it by reading
    # snapshot_files(ref=...), then publish_branch() fast-forwards main.
    # The reference has no ref support at all (IcebergSourceClient reads
    # currentSnapshot only).

    def refs(self, md: Optional[dict] = None) -> dict:
        """The metadata ``refs`` map (name → {snapshot-id, type})."""
        return dict((md or self.metadata()).get("refs", {}))

    def resolve_ref(self, name: str, md: Optional[dict] = None) -> int:
        """Snapshot id a branch/tag points at; ``"main"`` is the current
        snapshot (the spec's implicit main branch)."""
        md = md or self.metadata()
        if name == "main" and name not in md.get("refs", {}):
            cur = md.get("current-snapshot-id")
            if cur is None or cur == -1:
                raise ValueError(f"{self.table_path}: table has no snapshot")
            return int(cur)
        ref = md.get("refs", {}).get(name)
        if ref is None:
            raise ValueError(f"{self.table_path}: no branch or tag named {name!r}")
        return int(ref["snapshot-id"])

    def _set_ref(self, name: str, snapshot_id: Optional[int], ref_type: str) -> None:
        version = self.current_version()
        md = self.metadata(version)
        if snapshot_id is None:
            snapshot_id = md.get("current-snapshot-id")
            if snapshot_id is None or snapshot_id == -1:
                raise ValueError(f"{self.table_path}: table has no snapshot to ref")
        known = {s["snapshot-id"] for s in md.get("snapshots", [])}
        if snapshot_id not in known:
            raise ValueError(
                f"{self.table_path}: snapshot {snapshot_id} does not exist"
            )
        existing = md.get("refs", {}).get(name)
        if existing is not None and existing.get("type") == "tag":
            raise ValueError(
                f"{self.table_path}: tag {name!r} is immutable — drop it first"
            )
        md.setdefault("refs", {})[name] = {
            "snapshot-id": int(snapshot_id),
            "type": ref_type,
        }
        md["last-updated-ms"] = int(time.time() * 1000)
        self._write_metadata(version + 1, md)

    def create_branch(self, name: str, snapshot_id: Optional[int] = None) -> None:
        """Create (or move) a branch pointing at ``snapshot_id`` (default:
        the current snapshot)."""
        if name == "main":
            raise ValueError("'main' is the implicit current branch")
        self._set_ref(name, snapshot_id, "branch")

    def create_tag(self, name: str, snapshot_id: Optional[int] = None) -> None:
        """Create an IMMUTABLE tag at ``snapshot_id`` (default: current).
        Re-tagging an existing name refuses; drop_ref first."""
        if name == "main":
            raise ValueError("'main' is the implicit current branch")
        self._set_ref(name, snapshot_id, "tag")

    def drop_ref(self, name: str) -> None:
        """Remove a branch or tag; its snapshots become expirable again."""
        version = self.current_version()
        md = self.metadata(version)
        if name not in md.get("refs", {}):
            raise ValueError(f"{self.table_path}: no branch or tag named {name!r}")
        del md["refs"][name]
        md["last-updated-ms"] = int(time.time() * 1000)
        self._write_metadata(version + 1, md)

    def publish_branch(self, name: str, force: bool = False) -> int:
        """WAP publish: fast-forward MAIN to the branch head — the staged,
        audited snapshot becomes the table's current state in one atomic
        metadata swap (Iceberg's ``fast_forward('main', branch)``). The
        branch pointer stays (drop_ref when done). Returns the published
        snapshot id.

        Fast-forward is only a fast-forward when main has NOT advanced
        since the branch was staged: we walk parent-snapshot-id from the
        branch head and refuse unless the current main snapshot is an
        ancestor of (or equal to) the branch head — Iceberg's own
        ``fast_forward`` raises "Cannot fast-forward" in this case.
        Publishing anyway would silently drop main's newer commits from
        the table state; pass ``force=True`` to do that deliberately
        (cherry-pick-style replace)."""
        version = self.current_version()
        md = self.metadata(version)
        ref = md.get("refs", {}).get(name)
        if ref is None or ref.get("type") != "branch":
            raise ValueError(f"{self.table_path}: no branch named {name!r}")
        sid = int(ref["snapshot-id"])
        main_sid = md.get("current-snapshot-id")
        if not force and main_sid is not None and int(main_sid) != -1:
            parents = {s["snapshot-id"]: s.get("parent-snapshot-id") for s in md.get("snapshots", [])}
            cur: int | None = sid
            while cur is not None and cur != int(main_sid):
                cur = parents.get(cur)
            if cur is None:
                raise ValueError(
                    f"{self.table_path}: cannot fast-forward main to branch "
                    f"{name!r}: main ({main_sid}) is not an ancestor of the "
                    f"branch head ({sid}) — main advanced after the branch "
                    "was staged. Rebase the branch or pass force=True to "
                    "replace main's state deliberately."
                )
        now = int(time.time() * 1000)
        md["current-snapshot-id"] = sid
        md["last-updated-ms"] = now
        md.setdefault("snapshot-log", []).append(
            {"timestamp-ms": now, "snapshot-id": sid}
        )
        self._write_metadata(version + 1, md)
        return sid

    def rollback_to(self, snapshot_id: int) -> None:
        """CALL rollback_to_snapshot parity (IcebergClient.java:251-285)."""
        version = self.current_version()
        md = self.metadata(version)
        if not any(s["snapshot-id"] == snapshot_id for s in md.get("snapshots", [])):
            raise ValueError(f"unknown snapshot {snapshot_id}")
        md["current-snapshot-id"] = snapshot_id
        md["last-updated-ms"] = int(time.time() * 1000)
        self._write_metadata(version + 1, md)

    def recover_if_corrupt(self) -> bool:
        """K12 corrupt-snapshot recovery (IcebergClient.java:251-285): if
        the current snapshot's manifest list is missing on disk (crashed
        writer / HadoopTables rename race), roll back to its parent and
        clear the sync watermark so the next sync falls back to a FULL
        snapshot re-sync. Returns True when a recovery was performed."""
        import os

        if not self.exists():
            return False
        version = self.current_version()
        md = self.metadata(version)
        snap = self.current_snapshot_meta(md)
        if snap is None or os.path.exists(snap["manifest-list"]):
            return False
        parent = snap.get("parent-snapshot-id")
        snapshots = [s for s in md.get("snapshots", []) if s["snapshot-id"] != snap["snapshot-id"]]
        md["snapshots"] = snapshots
        md["current-snapshot-id"] = parent if parent is not None else -1
        props = dict(md.get("properties") or {})
        props.pop(TableMetadata.PROP_LAST_SYNCED, None)
        props.pop(TableMetadata.PROP_INFLIGHT, None)
        md["properties"] = props
        md["last-updated-ms"] = int(time.time() * 1000)
        self._write_metadata(version + 1, md)
        return True

    def _partition_avro_fields(self, ice_schema: dict, spec: list[dict]) -> list[dict]:
        id_to_type = {f["id"]: f["type"] for f in ice_schema["fields"]}
        out = []
        for p in spec:
            src_type = id_to_type.get(p["source-id"], "string")
            if p["transform"] in ("year", "month", "day", "hour") or p[
                "transform"
            ].startswith("bucket["):
                # time transforms and bucket[N] both yield int results
                # (spec §Partition Transforms result types); truncate[W]
                # keeps the source type and falls through
                avro_t: Any = "int"
            else:
                avro_t = {
                    "int": "int",
                    "long": "long",
                    "float": "float",
                    "double": "double",
                    "boolean": "boolean",
                    "string": "string",
                    "date": "int",
                }.get(src_type if isinstance(src_type, str) else "string", "string")
            out.append({"name": p["name"], "type": ["null", avro_t], "field-id": p["field-id"]})
        return out

    def _write_manifest_shards(
        self,
        files_df: DataFrame,
        snapshot_id: int,
        ice_schema: dict,
        spec: list[dict],
        spec_id: int = 0,
        v2_seq: Optional[int] = None,
        status: int = STATUS_EXISTING,
        n_rows: Optional[int] = None,
    ) -> list[dict]:
        """Write a file set as sharded manifest avro files, serialized ON
        THE EXECUTORS (mapInPandas over a to_json projection reusing
        formats/avro_codec), so the commit planes never serialize O(table)
        entries on the driver. Returns the manifest-list records (one per
        shard — the only thing the driver holds). Shard fan-in is bounded
        to ~_MANIFEST_SHARD_ENTRIES entries per manifest so a compaction
        always folds the list well under the 100-manifest guard while
        individual shards stay memory-bounded on the executors.

        ``status`` (r13): STATUS_EXISTING for the rewrite/compaction
        carry (the r6 original), STATUS_ADDED for LARGE append payloads —
        the r13 mega-commit profile showed the driver-side pure-Python
        avro writer IS the Iceberg commit wall at 1M entries (write_datum
        ≈ 75% of a ~40 s commit, 19 datum writes per entry,
        single-threaded); sharding the added manifest across executors
        turns that into parallel ~100k-entry serializations, which is
        also the only shape that survives a real 1000-executor cluster.

        ``v2_seq`` (r12): format-version-2 mode. With STATUS_EXISTING,
        ``files_df`` must carry a ``_seq`` column (the decode's per-entry
        data sequence number); every entry writes its ORIGINAL sequence
        number explicitly (inheritance is ADDED-only; inheriting here
        would re-scope older row-level deletes) and
        ``min_sequence_number`` is the shard's true minimum. With
        STATUS_ADDED, entries carry NO explicit number — v2 inheritance
        from the manifest list's ``sequence_number`` (= ``v2_seq``) is
        exactly the spec's mechanism for fresh appends.

        ``n_rows``: pre-counted row total, when the caller already paid
        for a count over the (checkpointed) frame — skips this method's
        own fan-out-sizing count job."""
        import math

        if n_rows is None:
            # driver-ok: one-scalar count sizes the shard fan-out
            n_rows = files_df.count()
        n = n_rows
        if n == 0:
            return []
        shards = max(1, math.ceil(n / _MANIFEST_SHARD_ENTRIES))
        meta_dir = self.metadata_dir
        apt = {
            f["name"]: f["type"][1]
            for f in self._partition_avro_fields(ice_schema, spec)
        }
        v2 = v2_seq is not None
        explicit_seq = v2 and status == STATUS_EXISTING
        entry_schema = _manifest_entry_schema(
            self._partition_avro_fields(ice_schema, spec), v2=v2
        )
        cols = (
            "path", "file_format", "partition_values",
            "size", "record_count", "column_stats",
        ) + (("_seq",) if explicit_seq else ())
        tag = "existing" if status == STATUS_EXISTING else "added"

        def write_shard(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import json as _json
            import os as _os
            import uuid as _uuid

            from onetable_spark.formats.avro_codec import write_container as _wc

            entries = []
            for pdf in batches:
                for s in pdf["j"]:
                    rec = _json.loads(s)
                    row = {k: rec.get(k) for k in cols}
                    e = _entry_from_data(
                        row, snapshot_id, status, ice_schema, spec, apt
                    )
                    if explicit_seq:
                        e["sequence_number"] = int(row["_seq"] or 0)
                        e["file_sequence_number"] = int(row["_seq"] or 0)
                    entries.append(e)
            if not entries:
                return
            mpath = _os.path.join(meta_dir, f"{_uuid.uuid4().hex}-m-{tag}.avro")
            _wc(mpath, entry_schema, entries)
            yield pd.DataFrame(
                [
                    {
                        "mp": mpath,
                        "length": _os.path.getsize(mpath),
                        "n": len(entries),
                        "rows": sum(e["data_file"]["record_count"] for e in entries),
                        "min_seq": (
                            min(e["sequence_number"] for e in entries)
                            if explicit_seq
                            else (v2_seq or 0)
                        ),
                    }
                ]
            )

        jdf = files_df.select(
            F.to_json(F.struct(*[F.col(c) for c in cols])).alias("j")
        ).repartition(shards)
        # driver-ok: one row per manifest shard (~n/_MANIFEST_SHARD_ENTRIES)
        stats = jdf.mapInPandas(
            write_shard, "mp string, length long, n long, rows long, min_seq long"
        ).collect()
        added = status == STATUS_ADDED
        return [
            {
                "manifest_path": r["mp"],
                "manifest_length": int(r["length"]),
                "partition_spec_id": spec_id,
                **(
                    {"content": _CONTENT_DATA, "sequence_number": int(v2_seq),
                     "min_sequence_number": int(r["min_seq"]),
                     "added_files_count": int(r["n"]) if added else 0,
                     "existing_files_count": 0 if added else int(r["n"]),
                     "deleted_files_count": 0}
                    if v2
                    else {}
                ),
                "added_snapshot_id": snapshot_id,
                "added_data_files_count": int(r["n"]) if added else 0,
                "existing_data_files_count": 0 if added else int(r["n"]),
                "deleted_data_files_count": 0,
                "added_rows_count": int(r["rows"]) if added else 0,
                "existing_rows_count": 0 if added else int(r["rows"]),
                "deleted_rows_count": 0,
            }
            for r in stats
        ]

    def _entry_from_row(
        self, row, snapshot_id: int, status: int, ice_schema: dict, spec: list[dict]
    ) -> dict:
        apt = {
            f["name"]: f["type"][1]
            for f in self._partition_avro_fields(ice_schema, spec)
        }
        return _entry_from_data(row, snapshot_id, status, ice_schema, spec, apt)
