"""HoodieLogFormat block reader/writer (the MOR log-file byte plane).

Layout verified byte-for-byte against the REAL Hudi-0.14 log files the
reference ships (`demo/data/db/hudi_dimCustomer/.hoodie/metadata/files/
.files-0000-0_*.log.*` — a DELETE block and an HFILE data block), and
matching the public HoodieLogFormat/HoodieLogBlock source:

    magic ``#HUDI#`` (6B)
    block size      (8B big-endian — everything after this field)
    format version  (4B BE, = 1)
    block type      (4B BE ordinal: 0 COMMAND, 1 DELETE, 2 CORRUPT,
                     3 AVRO_DATA, 4 HFILE_DATA, 5 PARQUET_DATA, 6 CDC)
    header map      (4B count; per entry 4B key ordinal + 4B len + utf8;
                     key ordinals: 0 INSTANT_TIME, 1 TARGET_INSTANT_TIME,
                     2 SCHEMA, 3 COMMAND_BLOCK_TYPE)
    content length  (8B BE)
    content bytes
    footer map      (4B count, same entry shape)
    total block len (8B BE — the whole block incl. magic)

AVRO_DATA block content (HoodieAvroDataBlock version 3):
    content format version (4B BE, = 3)
    record count           (4B BE)
    per record: 4B BE length + Avro binary datum (writer schema in the
    SCHEMA header)

Why this module exists: the realtime MOR view (formats/hudi.py) nets
record counts from the timeline's write-stats — metadata, not bytes.
``verify_log_stats`` is the trust layer (the twin of
``DeltaLog.verify_deletion_vectors``): executors parse each log file's
actual blocks and cross-check the decoded record count against the
write-stat the view trusted. The reference never opens log files at all
(HudiDataFileExtractor.java reads the base-file view only).
"""

from __future__ import annotations

import datetime as _dt
import io
import json
import struct
from typing import Any

MAGIC = b"#HUDI#"

BLOCK_TYPES = {
    0: "command",
    1: "delete",
    2: "corrupt",
    3: "avro_data",
    4: "hfile_data",
    5: "parquet_data",
    6: "cdc_data",
}
_TYPE_ORDINALS = {v: k for k, v in BLOCK_TYPES.items()}

HEADER_KEYS = {
    0: "instant_time",
    1: "target_instant_time",
    2: "schema",
    3: "command_block_type",
}
_HEADER_ORDINALS = {v: k for k, v in HEADER_KEYS.items()}

AVRO_CONTENT_VERSION = 3

#: HoodieDeleteBlock content version 3 (Hudi 0.13+): the delete records
#: serialize as ONE Avro binary datum of HoodieDeleteRecordList. The
#: reference's real log file (`demo/data/db/hudi_dimCustomer/.hoodie/
#: metadata/files/.files-0000-0_00000000000000010.log.1_0-0-0`, 80 bytes)
#: carries exactly `>i 3, >i 1, 0x00` — version 3, one payload byte, the
#: Avro encoding of an EMPTY record list (array block count 0).
DELETE_CONTENT_VERSION = 3

#: the public HoodieDeleteRecordList / HoodieDeleteRecord Avro schemas
#: (hudi-common src/main/avro/HoodieDeleteRecordList.avsc) — orderingVal
#: is the full primitive union the writer side collapses to null for
#: translated deletes (no ordering semantics on a foreign position set)
HOODIE_DELETE_RECORD_LIST_SCHEMA: dict[str, Any] = {
    "type": "record",
    "name": "HoodieDeleteRecordList",
    "namespace": "org.apache.hudi.avro.model",
    "fields": [
        {
            "name": "deleteRecordList",
            "type": {
                "type": "array",
                "items": {
                    "type": "record",
                    "name": "HoodieDeleteRecord",
                    "fields": [
                        {"name": "recordKey", "type": ["null", "string"], "default": None},
                        {"name": "partitionPath", "type": ["null", "string"], "default": None},
                        {
                            "name": "orderingVal",
                            "type": [
                                "null", "boolean", "int", "long",
                                "float", "double", "bytes", "string",
                            ],
                            "default": None,
                        },
                    ],
                },
            },
        }
    ],
}


#: Avro logical types whose int/long encoding Python rows do not carry
#: natively: epoch days for ``date``, epoch units for the timestamps
_LOGICAL_UNITS = {
    "date": _dt.timedelta(days=1),
    "timestamp-millis": _dt.timedelta(milliseconds=1),
    "timestamp-micros": _dt.timedelta(microseconds=1),
    "local-timestamp-millis": _dt.timedelta(milliseconds=1),
    "local-timestamp-micros": _dt.timedelta(microseconds=1),
}
_EPOCH_DATE = _dt.date(1970, 1, 1)
_EPOCH_UTC = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
_EPOCH_LOCAL = _dt.datetime(1970, 1, 1)


def logical_fields(schema: dict) -> dict[str, str]:
    """field name -> logical type of a record schema's date / timestamp
    fields (nullable unions included). Empty for schemas without them, so
    callers skip the conversion walk entirely."""
    out = {}
    for f in schema.get("fields", ()):
        t = f["type"]
        for branch in t if isinstance(t, list) else [t]:
            if isinstance(branch, dict) and branch.get("logicalType") in _LOGICAL_UNITS:
                out[f["name"]] = branch["logicalType"]
    return out


def _epoch(logical: str):
    if logical == "date":
        return _EPOCH_DATE
    return _EPOCH_UTC if logical.startswith("timestamp") else _EPOCH_LOCAL


def encode_logical(record: dict, logical: dict[str, str], tz: str = "UTC") -> dict:
    """Copy of ``record`` with its ``logical`` fields in their Avro int/long
    encoding. Values are ``date``s and ``datetime``s (pandas Timestamps
    included); a naive value of an instant (``timestamp-*``) field is wall
    clock in ``tz`` — Spark hands pandas session-local naive timestamps —
    while ``local-timestamp-*`` values are wall clock as they stand."""
    from zoneinfo import ZoneInfo

    out = dict(record)
    for name, lt in logical.items():
        v = out.get(name)
        if v is None or v != v:  # None or NaT
            out[name] = None
            continue
        if lt.startswith("timestamp") and v.tzinfo is None:
            v = v.replace(tzinfo=ZoneInfo(tz))
        out[name] = (v - _epoch(lt)) // _LOGICAL_UNITS[lt]
    return out


def decode_logical(record: dict, logical: dict[str, str]) -> dict:
    """Inverse of :func:`encode_logical`, in place: epoch days back to
    ``date``, instants to UTC-aware ``datetime``s, local timestamps to
    naive ones."""
    for name, lt in logical.items():
        v = record.get(name)
        if v is not None:
            record[name] = _epoch(lt) + v * _LOGICAL_UNITS[lt]
    return record


def _read_map(buf: io.BytesIO) -> dict[str, str]:
    (count,) = struct.unpack(">i", buf.read(4))
    out = {}
    for _ in range(count):
        key, length = struct.unpack(">ii", buf.read(8))
        out[HEADER_KEYS.get(key, str(key))] = buf.read(length).decode("utf-8")
    return out


def _write_map(buf: io.BytesIO, entries: dict[str, str]) -> None:
    buf.write(struct.pack(">i", len(entries)))
    for k, v in entries.items():
        raw = v.encode("utf-8")
        buf.write(struct.pack(">ii", _HEADER_ORDINALS[k], len(raw)))
        buf.write(raw)


def read_log_blocks(path: str) -> list[dict[str, Any]]:
    """Every block in one log file:
    ``{type, format_version, headers, footers, content: bytes}``."""
    with open(path, "rb") as f:
        data = f.read()
    blocks = []
    pos = 0
    while pos < len(data):
        if data[pos : pos + 6] != MAGIC:
            raise ValueError(f"{path}: bad log magic at offset {pos}")
        start = pos
        pos += 6
        (block_size,) = struct.unpack_from(">q", data, pos)
        pos += 8
        buf = io.BytesIO(data[pos : pos + block_size])
        fmt_version, btype = struct.unpack(">ii", buf.read(8))
        headers = _read_map(buf)
        (content_len,) = struct.unpack(">q", buf.read(8))
        content = buf.read(content_len)
        footers = _read_map(buf)
        (total_len,) = struct.unpack(">q", buf.read(8))
        # the trailing long counts magic + everything after the size field
        # (real Hudi-0.14 bytes: 80-byte file, block_size 66, trailer 72)
        if total_len != 6 + block_size:
            raise ValueError(
                f"{path}: block at {start} declares total {total_len}, "
                f"layout says {6 + block_size} — torn block"
            )
        blocks.append(
            {
                "type": BLOCK_TYPES.get(btype, str(btype)),
                "format_version": fmt_version,
                "headers": headers,
                "footers": footers,
                "content": content,
            }
        )
        pos += block_size
    return blocks


#: HoodieCDCUtils' per-supplemental-logging-mode record schemas (RFC-51;
#: hudi-common .../table/cdc/HoodieCDCUtils.java). before/after are JSON
#: STRINGS of the data record — which is why Spark's cdc read
#: (CDCRelation.FULL_CDC_SPARK_SCHEMA) types them StringType verbatim.
CDC_AVRO_SCHEMAS: dict[str, dict[str, Any]] = {
    "op_key_only": {
        "type": "record",
        "name": "Record",
        "fields": [
            {"name": "op", "type": ["null", "string"], "default": None},
            {"name": "record_key", "type": ["null", "string"], "default": None},
        ],
    },
    "data_before": {
        "type": "record",
        "name": "Record",
        "fields": [
            {"name": "op", "type": ["null", "string"], "default": None},
            {"name": "record_key", "type": ["null", "string"], "default": None},
            {"name": "before", "type": ["null", "string"], "default": None},
        ],
    },
    "data_before_after": {
        "type": "record",
        "name": "Record",
        "fields": [
            {"name": "op", "type": ["null", "string"], "default": None},
            {"name": "ts_ms", "type": ["null", "string"], "default": None},
            {"name": "before", "type": ["null", "string"], "default": None},
            {"name": "after", "type": ["null", "string"], "default": None},
        ],
    },
}


def avro_block_records(block: dict[str, Any], decode: bool = False) -> tuple[int, list]:
    """(record_count, records) of one AVRO_DATA (or CDC_DATA — the
    HoodieCDCDataBlock subclasses HoodieAvroDataBlock, same content
    bytes) block. With ``decode`` the records are materialized through
    the byte-certified Avro codec (formats/avro_codec.py) against the
    block's SCHEMA header; otherwise only lengths are walked (count
    integrity without decode cost)."""
    if block["type"] not in ("avro_data", "cdc_data"):
        raise ValueError(f"not an avro_data block: {block['type']}")
    content = block["content"]
    version, count = struct.unpack_from(">ii", content, 0)
    if version != AVRO_CONTENT_VERSION:
        raise ValueError(f"unsupported avro data-block content version {version}")
    pos = 8
    records = []
    schema = json.loads(block["headers"]["schema"]) if decode else None
    logical = logical_fields(schema) if decode else {}
    names: dict[str, Any] = {}
    for _ in range(count):
        (length,) = struct.unpack_from(">i", content, pos)
        pos += 4
        raw = content[pos : pos + length]
        pos += length
        if decode:
            from onetable_spark.formats.avro_codec import _Reader, read_datum

            rec = read_datum(_Reader(raw), schema, names)
            records.append(decode_logical(rec, logical) if logical else rec)
    if pos != len(content):
        raise ValueError(
            f"avro data block walks to {pos} of {len(content)} bytes — corrupt"
        )
    return count, records


def write_cdc_log_block(
    path: str,
    records: list[dict],
    instant_time: str,
    mode: str = "data_before_after",
) -> int:
    """Author one CDC_DATA block (RFC-51 supplemental cdc log;
    HoodieCDCDataBlock = HoodieAvroDataBlock bytes under block type 6).
    ``records`` must match ``CDC_AVRO_SCHEMAS[mode]`` — op 'i'/'u'/'d'
    plus JSON-string before/after images per HoodieCDCUtils. Returns the
    record count."""
    return write_avro_log_block(
        path,
        records,
        CDC_AVRO_SCHEMAS[mode],
        instant_time,
        append=False,
        block_type="cdc_data",
    )


def write_avro_log_block(
    path: str,
    records: list[dict],
    schema: dict,
    instant_time: str,
    append: bool = True,
    block_type: str = "avro_data",
) -> int:
    """Author one AVRO_DATA block (fixture/writer side; same bytes a real
    MOR writer produces for the common path). Returns the record count."""
    from onetable_spark.formats.avro_codec import write_datum

    body = io.BytesIO()
    body.write(struct.pack(">ii", AVRO_CONTENT_VERSION, len(records)))
    names: dict[str, Any] = {}
    for rec in records:
        rb = io.BytesIO()
        write_datum(rb, rec, schema, names)
        raw = rb.getvalue()
        body.write(struct.pack(">i", len(raw)))
        body.write(raw)
    content = body.getvalue()

    inner = io.BytesIO()
    inner.write(struct.pack(">ii", 1, _TYPE_ORDINALS[block_type]))
    _write_map(
        inner,
        {"instant_time": instant_time, "schema": json.dumps(schema)},
    )
    inner.write(struct.pack(">q", len(content)))
    inner.write(content)
    _write_map(inner, {})
    block_size = inner.tell() + 8  # + the trailing total-length field
    inner.write(struct.pack(">q", 6 + block_size))
    with open(path, "ab" if append else "wb") as f:
        f.write(MAGIC)
        f.write(struct.pack(">q", block_size))
        f.write(inner.getvalue())
    return len(records)


def delete_block_records(block: dict[str, Any]) -> tuple[int, list[dict]]:
    """(count, delete records) of one DELETE block. Content = 4B BE
    version (3), 4B BE payload length, then ONE Avro binary
    HoodieDeleteRecordList datum — decoded through the byte-certified
    codec against the public schema (the V3 format embeds no SCHEMA
    header; the schema is a protocol constant)."""
    if block["type"] != "delete":
        raise ValueError(f"not a delete block: {block['type']}")
    content = block["content"]
    version, length = struct.unpack_from(">ii", content, 0)
    if version != DELETE_CONTENT_VERSION:
        raise ValueError(
            f"unsupported delete-block content version {version} — only "
            f"the Avro V{DELETE_CONTENT_VERSION} form is readable"
        )
    raw = content[8 : 8 + length]
    if len(raw) != length or 8 + length != len(content):
        raise ValueError(
            f"delete block declares {length} payload bytes, content holds "
            f"{len(content) - 8} — corrupt"
        )
    from onetable_spark.formats.avro_codec import _Reader, read_datum

    datum = read_datum(_Reader(raw), HOODIE_DELETE_RECORD_LIST_SCHEMA, {})
    records = list(datum.get("deleteRecordList") or [])
    return len(records), records


def write_delete_log_block(
    path: str,
    records: list[dict],
    instant_time: str,
    append: bool = True,
) -> int:
    """Author one DELETE block (HoodieDeleteBlock, content version 3).
    ``records``: ``{recordKey, partitionPath, orderingVal}`` dicts (the
    HoodieDeleteRecord shape; missing keys encode as null). With an empty
    list the emitted bytes are BYTE-IDENTICAL to the reference's real
    Hudi-0.14 delete block (test-pinned against the demo log file).
    Returns the record count."""
    from onetable_spark.formats.avro_codec import write_datum

    rb = io.BytesIO()
    write_datum(
        rb,
        {"deleteRecordList": records},
        HOODIE_DELETE_RECORD_LIST_SCHEMA,
        {},
    )
    raw = rb.getvalue()
    content = struct.pack(">ii", DELETE_CONTENT_VERSION, len(raw)) + raw

    inner = io.BytesIO()
    inner.write(struct.pack(">ii", 1, _TYPE_ORDINALS["delete"]))
    _write_map(inner, {"instant_time": instant_time})
    inner.write(struct.pack(">q", len(content)))
    inner.write(content)
    _write_map(inner, {})
    block_size = inner.tell() + 8  # + the trailing total-length field
    inner.write(struct.pack(">q", 6 + block_size))
    with open(path, "ab" if append else "wb") as f:
        f.write(MAGIC)
        f.write(struct.pack(">q", block_size))
        f.write(inner.getvalue())
    return len(records)


def log_file_record_count(path: str) -> dict[str, Any]:
    """Walk one log file: summed AVRO_DATA record counts, summed DELETE
    record counts, plus flags for block kinds whose counts this reader
    cannot derive from bytes."""
    n = 0
    d = 0
    other: list[str] = []
    for b in read_log_blocks(path):
        if b["type"] == "avro_data":
            cnt, _ = avro_block_records(b)
            n += cnt
        elif b["type"] == "delete":
            cnt, _ = delete_block_records(b)
            d += cnt
        elif b["type"] in ("command", "corrupt"):
            continue  # no records
        else:
            other.append(b["type"])
    return {"records": n, "deletes": d, "unparsed_block_types": sorted(set(other))}
