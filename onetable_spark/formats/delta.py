"""Native Delta Lake transaction-log implementation (no delta-spark jar).

Implements the public Delta protocol (https://github.com/delta-io/delta
PROTOCOL.md): newline-delimited JSON action files under ``_delta_log/``,
zero-padded 20-digit versions, parquet checkpoints + ``_last_checkpoint``,
optimistic concurrency via atomic create-if-absent of the next version
file.

Reference parity: the reference drives delta-spark's ``DeltaLog`` /
``OptimisticTransaction`` (core/.../delta/DeltaClient.java:149-295,
DeltaSourceClient.java:85-172). Here the log itself is re-implemented,
and — unlike the reference, which materializes ``snapshot.allFiles()``
with ``collectAsList()`` (DeltaDataFileExtractor.java:82) — snapshot
reconstruction stays a **distributed Spark job**: action files are read
with ``spark.read.json`` under an explicit schema and reconciled with a
window function, so a table with millions of add actions never sits on
the driver.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass
from typing import Optional
from urllib.parse import quote, unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from onetable_spark.session import local_path, local_rows_df
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

LOG_DIR = "_delta_log"
CHECKPOINT_INTERVAL = 10

# explicit action schema — avoids double-pass JSON inference on big logs
_STR_MAP = T.MapType(T.StringType(), T.StringType())
#: deletion-vector descriptor on AddFile (PROTOCOL.md §Deletion Vectors):
#: storageType u (uuid-named file) / p (absolute path) / i (inline);
#: cardinality = rows the DV deletes — the authoritative net-count input
DV_SCHEMA = T.StructType(
    [
        T.StructField("storageType", T.StringType()),
        T.StructField("pathOrInlineDv", T.StringType()),
        T.StructField("offset", T.IntegerType()),
        T.StructField("sizeInBytes", T.IntegerType()),
        T.StructField("cardinality", T.LongType()),
    ]
)
ADD_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("partitionValues", _STR_MAP),
        T.StructField("size", T.LongType()),
        T.StructField("modificationTime", T.LongType()),
        T.StructField("dataChange", T.BooleanType()),
        T.StructField("stats", T.StringType()),
        T.StructField("deletionVector", DV_SCHEMA),
    ]
)
REMOVE_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("deletionTimestamp", T.LongType()),
        T.StructField("dataChange", T.BooleanType()),
        # PROTOCOL.md "Remove File": removes SHOULD carry the dropped
        # file's partitionValues — this writer authors them (r15), and
        # the CDF readers use them instead of hive-path guessing (which
        # cannot work on FLAT/DIR_HIERARCHY layouts)
        T.StructField("partitionValues", _STR_MAP),
    ]
)
METADATA_SCHEMA = T.StructType(
    [
        T.StructField("id", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField(
            "format",
            T.StructType(
                [
                    T.StructField("provider", T.StringType()),
                    T.StructField("options", _STR_MAP),
                ]
            ),
        ),
        T.StructField("schemaString", T.StringType()),
        T.StructField("partitionColumns", T.ArrayType(T.StringType())),
        T.StructField("configuration", _STR_MAP),
        T.StructField("createdTime", T.LongType()),
    ]
)
PROTOCOL_SCHEMA = T.StructType(
    [
        T.StructField("minReaderVersion", T.IntegerType()),
        T.StructField("minWriterVersion", T.IntegerType()),
        T.StructField("readerFeatures", T.ArrayType(T.StringType())),
        T.StructField("writerFeatures", T.ArrayType(T.StringType())),
    ]
)
CDC_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),
        T.StructField("partitionValues", T.MapType(T.StringType(), T.StringType())),
        T.StructField("size", T.LongType()),
        T.StructField("dataChange", T.BooleanType()),
    ]
)

ACTION_SCHEMA = T.StructType(
    [
        T.StructField("add", ADD_SCHEMA),
        T.StructField("remove", REMOVE_SCHEMA),
        T.StructField("metaData", METADATA_SCHEMA),
        T.StructField("protocol", PROTOCOL_SCHEMA),
        # PROTOCOL.md "Add CDC File" (r13) — never part of state replay;
        # resolved only by the change-feed reader
        T.StructField("cdc", CDC_SCHEMA),
    ]
)

# Delta-supported generation expressions for time-based partitions
# (DeltaPartitionExtractor.java:104-225); our writer emits / parser accepts
# the same single-column grammar.

def _with_column_mapping_ids(schema: T.StructType) -> T.StructType:
    """Surface Delta column-mapping field IDs to the IR.

    Tables with column mapping enabled (``delta.columnMapping.mode`` =
    name/id — any table that ever renamed or dropped a column) carry a
    stable ``delta.columnMapping.id`` per field in the schemaString's
    field metadata. Copy it into the ``fieldId`` metadata key that
    ``structtype_to_iceberg`` honors, so Delta→Iceberg conversions keep
    ids stable across renames instead of re-assigning by position
    (reference: DeltaSchemaExtractor.java:193-198 and its
    testFieldIdsInDeltaSchema fixtures). The original column-mapping keys
    (id + physicalName) are left in place — the IR is the StructType
    itself, so they round-trip untouched back to Delta targets."""
    cm_id = "delta.columnMapping.id"

    def conv_type(dt: T.DataType) -> T.DataType:
        if isinstance(dt, T.StructType):
            return T.StructType([conv_field(f) for f in dt.fields])
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(conv_type(dt.elementType), dt.containsNull)
        if isinstance(dt, T.MapType):
            return T.MapType(conv_type(dt.keyType), conv_type(dt.valueType), dt.valueContainsNull)
        return dt

    def conv_field(f: T.StructField) -> T.StructField:
        md = dict(f.metadata or {})
        if cm_id in md and "fieldId" not in md:
            md["fieldId"] = int(md[cm_id])
        return T.StructField(f.name, conv_type(f.dataType), f.nullable, md)

    return T.StructType([conv_field(f) for f in schema.fields])


def _physical_to_logical(metadata: dict) -> Optional[dict[str, str]]:
    """physical-name → logical-name map from the metaData schemaString
    (``delta.columnMapping.physicalName``, top-level fields).

    Real column-mapping tables (mode = name/id, i.e. any delta-spark
    table that ever renamed a column) key ``add.stats`` and
    ``add.partitionValues`` by PHYSICAL names like ``col-<uuid>``;
    surfacing those raw starves every stats consumer downstream (pruning,
    the stats sync into Iceberg/Hudi, the validator). Nested stats paths
    keep their physical names (documented gap: the fixtures and the sync
    stats plane are flat). Returns None when no field carries a distinct
    physical name (keys already logical)."""
    schema = json.loads(metadata["schemaString"])
    out = {}
    for f in schema.get("fields", []):
        pn = (f.get("metadata") or {}).get("delta.columnMapping.physicalName")
        if pn and pn != f["name"]:
            out[pn] = f["name"]
    return out or None


#: rows out of the executor DV / change-feed passes: ``dv`` rows name an
#: affected data file and its new descriptor (JSON), ``cdc`` rows a
#: written ``_change_data`` file with its size and partition values
#: (JSON), ``key`` rows carry the keys of newly-dead rows in ``_k0..``
_PASS_FIELDS = [
    T.StructField("_kind", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("dv", T.StringType()),
    T.StructField("size", T.LongType()),
    T.StructField("pv", T.StringType()),
]


def _pass_schema(key_fields: list[T.StructField]) -> T.StructType:
    return T.StructType(
        _PASS_FIELDS
        + [T.StructField(f"_k{i}", f.dataType) for i, f in enumerate(key_fields)]
    )


def _pass_batch(schema: T.StructType, rows: list[dict]):
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.RecordBatch.from_pylist(rows, schema=to_arrow_schema(schema))


def _match_positions(rows, keys):
    """Positions of the ``rows`` (an Arrow table holding at least the
    key columns) whose key tuple is in ``keys`` (an Arrow table of
    distinct, null-free keys): one hash semi-join. Null keys never match,
    as in a SQL MERGE."""
    import numpy as np
    import pyarrow as pa

    names = keys.column_names
    if not keys.num_rows or not rows.num_rows:
        return np.empty(0, dtype=np.int64)
    pos = "_pos"
    while pos in names:
        pos = f"_{pos}"
    probe = rows.select(names).cast(keys.schema).append_column(
        pos, pa.array(np.arange(rows.num_rows, dtype=np.int64))
    )
    hit = probe.join(keys, names, join_type="left semi")
    return np.sort(hit.column(pos).to_numpy())


class _ChangeFiles:
    """Executor side of the change data feed: one task's change rows,
    conformed to the table schema plus ``_change_type``, grouped by
    partition-value combo and written as one ``_change_data`` parquet per
    combo. Hive layout keeps partition columns out of the data files, so
    they are filled from the source file's partitionValues with typed
    casts; they stay in the cdc bytes too, self-describing for this
    engine's streaming CDF source."""

    def __init__(self, table_path: str, schema: T.StructType, pcols: list[str]):
        from pyspark.sql.pandas.types import to_arrow_schema

        self.table_path = table_path
        self.pcols = pcols
        self.target = to_arrow_schema(
            T.StructType(
                list(schema.fields) + [T.StructField("_change_type", T.StringType())]
            )
        )
        self.groups: dict = {}

    def add(self, rows, pv: dict, change_type) -> None:
        """``rows``: an Arrow table read off one data file; ``pv`` its
        partition values; ``change_type`` a string or a string array."""
        import pyarrow as pa

        n = rows.num_rows
        if not n:
            return
        cols = []
        for f in self.target:
            if f.name == "_change_type":
                col = (
                    change_type
                    if isinstance(change_type, pa.Array)
                    else pa.array([change_type] * n, pa.string())
                )
            elif f.name in self.pcols:
                col = pa.array([pv.get(f.name)] * n, pa.string()).cast(f.type)
            elif f.name in rows.column_names:
                col = rows.column(f.name).cast(f.type)
            else:
                col = pa.nulls(n, f.type)
            cols.append(col)
        combo = json.dumps({c: pv.get(c) for c in self.pcols}) if self.pcols else None
        self.groups.setdefault(combo, []).append(
            pa.Table.from_arrays(cols, schema=self.target)
        )

    def write(self, empty: bool = False) -> list[dict]:
        """Write the files; one ``cdc`` row per file. ``empty``: with no
        change rows, still write one empty file."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        groups = self.groups or ({None: [self.target.empty_table()]} if empty else {})
        out = []
        for combo, parts in groups.items():
            rel = f"_change_data/cdc-{uuid.uuid4().hex}.parquet"
            path = os.path.join(self.table_path, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            pq.write_table(pa.concat_tables(parts), path)
            out.append(
                {"_kind": "cdc", "path": rel, "size": os.path.getsize(path), "pv": combo}
            )
        return out


def _dv_pass(
    table_path: str,
    schema: T.StructType,
    pcols: list[str],
    out_schema: T.StructType,
    keys_bc,
    change_type: Optional[str],
    union: bool,
):
    """The executor pass that resolves, authors and pre-images the DVs of
    one commit, as a ``mapInArrow`` function over one row per file:
    ``(path, dv, pv, pos)`` — the file, its current descriptor (JSON or
    null), its partition values (JSON) and the positions to delete. A
    null ``pos`` means: read the file's key columns and delete the rows
    whose key is in the broadcast ``keys_bc`` (the keyed upsert). Each
    file's new DV goes through ``delta_dv.author_dv``; with a
    ``change_type`` the rows at the newly-dead positions are written as
    change rows of that type, and the upsert also returns their keys.

    The pass writes files (fresh uuids), so its output must be collected
    exactly once."""

    def run(batches):
        import pyarrow.parquet as pq

        from onetable_spark.formats.delta_dv import author_dv

        keys = keys_bc.value if keys_bc is not None else None
        names = keys.column_names if keys is not None else []
        changes = _ChangeFiles(table_path, schema, pcols) if change_type else None
        rows = []
        for batch in batches:
            cols = batch.to_pydict()
            for path, dv, pv, pos in zip(cols["path"], cols["dv"], cols["pv"], cols["pos"]):
                data = None
                if pos is None:
                    data = pq.read_table(path, columns=None if changes else names)
                    pos = _match_positions(data, keys)
                if not len(pos):
                    continue
                desc, newly = author_dv(
                    table_path, json.loads(dv) if dv else None, pos, union
                )
                if desc is None:
                    continue
                rows.append({"_kind": "dv", "path": path, "dv": json.dumps(desc)})
                if changes is None or not len(newly):
                    continue
                if data is None:
                    data = pq.read_table(path)
                dead = data.take(newly)
                changes.add(dead, json.loads(pv) if pv else {}, change_type)
                for k in zip(*(dead.column(n).to_pylist() for n in names)):
                    rows.append({"_kind": "key", **{f"_k{i}": v for i, v in enumerate(k)}})
        if changes is not None:
            rows += changes.write()
        if rows:
            yield _pass_batch(out_schema, rows)

    return run


def _new_rows_pass(
    table_path: str, schema: T.StructType, pcols: list[str], matched_bc
):
    """The upsert's change-feed pass over its new files, as a
    ``mapInArrow`` function over ``(path, pv)`` rows: each new row is an
    ``update_postimage`` when its key is among the broadcast keys of the
    rows the upsert deleted (``matched_bc``), an ``insert`` otherwise.
    Writes the change files; returns their ``cdc`` rows."""

    def run(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        matched = matched_bc.value
        changes = _ChangeFiles(table_path, schema, pcols)
        for batch in batches:
            cols = batch.to_pydict()
            for path, pv in zip(cols["path"], cols["pv"]):
                data = pq.read_table(path)
                post = np.zeros(data.num_rows, dtype=bool)
                post[_match_positions(data, matched)] = True
                kinds = pa.array(np.where(post, "update_postimage", "insert"))
                changes.add(data, json.loads(pv) if pv else {}, kinds)
        rows = changes.write()
        if rows:
            yield _pass_batch(_pass_schema([]), rows)

    return run


def _cdc_adds(rows) -> list[dict]:
    """The ``cdc_adds`` of a commit from an executor pass's ``cdc`` rows."""
    return [
        {
            "path": r["path"],
            "size": int(r["size"]),
            "partitionValues": json.loads(r["pv"]) if r["pv"] else {},
        }
        for r in rows
        if r["_kind"] == "cdc"
    ]


def _version_path(table_path: str, version: int) -> str:
    return os.path.join(table_path, LOG_DIR, f"{version:020d}.json")


def _atomic_write(path: str, payload: str) -> None:
    """Create-if-absent write: the Delta optimistic-concurrency primitive.

    ``O_EXCL`` makes two writers racing on the same version deterministic:
    exactly one wins, the loser re-reads and retries at version+1."""
    fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    try:
        os.write(fd, payload.encode("utf-8"))
    finally:
        os.close(fd)


def _spool_lines(dir_path: str, line_iter) -> str:
    """Stream JSON lines into a temp spool file next to the log (1 MiB
    buffered chunks) and return its path. The driver never materializes
    the serialized commit payload: each line goes to the OS buffer as it
    is encoded, so a million-file commit's peak memory is the collected
    Row list alone, not rows + payload (VERDICT r6 #8 / ADVICE r5).
    The ``.tmp`` suffix keeps the spool invisible to ``_versions()``."""
    import tempfile

    fd, tmp = tempfile.mkstemp(prefix="_commit_", suffix=".json.tmp", dir=dir_path)
    try:
        # mkstemp creates 0600; the published commit must stay readable by
        # other principals exactly like the pre-spool O_CREAT path (which
        # honored the umask) — link() preserves the spool's mode
        umask = os.umask(0)
        os.umask(umask)
        os.fchmod(fd, 0o666 & ~umask)
        with os.fdopen(fd, "w", encoding="utf-8", buffering=1024 * 1024) as f:
            for line in line_iter:
                f.write(line)
                f.write("\n")
    except BaseException:
        os.unlink(tmp)
        raise
    return tmp


def _actions_head(spark: SparkSession, action_jsons: list[str]) -> DataFrame:
    """Parse a handful of action-JSON strings into ACTION_SCHEMA rows
    entirely JVM-side: ``range(1) → explode(array(lit…)) → from_json``.
    Two prior shapes were measured pathological on wide-core local
    masters: ``.rdd.map`` + ``spark.read.json`` spins Python workers per
    job, and even a plain python-local ``createDataFrame`` costs ~4 s per
    parquet WRITE on local[32] (vs 0.3 s for a JVM-born frame) — a
    constant every checkpoint used to pay."""
    arr = F.array(*[F.lit(s) for s in action_jsons])
    return (
        spark.range(1, numPartitions=1)
        .select(F.explode(arr).alias("value"))
        .select(F.from_json("value", ACTION_SCHEMA).alias("a"))
        .select("a.add", "a.remove", "a.metaData", "a.protocol")
    )


# (r12) spool publishing goes through the commit-plane filesystem seam —
# DeltaLog.fs.publish_if_absent (formats/fs.py) — so object stores inject
# conditional-put semantics; the former module-level _publish_spool bound
# os.link directly.


@dataclass
class DeltaSnapshotInfo:
    version: int
    metadata: dict
    protocol: dict


#: reader features this log replay actually implements. Per the Delta
#: protocol, a reader MUST refuse a table whose readerFeatures it does not
#: support — reading anyway produces WRONG DATA, not an error.
#: v2Checkpoint is SUPPORTED as of r10: the replay resolves uuid-named
#: checkpoints and their _sidecars/ files (_checkpoint_actions).
#: deletionVectors is SUPPORTED as of r11: the replay reads the DV
#: descriptor on AddFile, nets cardinality out of record/value counts
#: (_adds_to_files), and the replay window breaks same-version ties in
#: favor of the add (a DV commit is remove+add of the SAME path in one
#: version). columnMapping is supported for the id plane (ids flow to
#: Iceberg field-ids; stats keys degrade to physical names, which starves
#: pruning but never mis-reads values); timestampNtz is the type plane we
#: already convert.
SUPPORTED_READER_FEATURES = {
    "columnMapping", "timestampNtz", "v2Checkpoint", "deletionVectors",
}
MAX_READER_VERSION = 3


def _check_reader_protocol(protocol: dict, log_path: str) -> None:
    """Refuse protocol versions/features this replay cannot honor (r10
    guard — the Delta twin of the Iceberg delete-manifest refusal)."""
    mrv = protocol.get("minReaderVersion") or 1
    if mrv > MAX_READER_VERSION:
        raise ValueError(
            f"{log_path}: minReaderVersion {mrv} exceeds the supported "
            f"{MAX_READER_VERSION}; refusing rather than mis-reading"
        )
    unsupported = set(protocol.get("readerFeatures") or ()) - SUPPORTED_READER_FEATURES
    if unsupported:
        raise ValueError(
            f"{log_path}: unsupported Delta reader features "
            f"{sorted(unsupported)} (e.g. deletionVectors would resurrect "
            "deleted rows if read as plain adds); refusing rather than "
            "returning wrong data"
        )


class DeltaLog:
    """Reader/writer for one table's ``_delta_log``."""

    def __init__(self, spark: SparkSession, table_path: str, fs=None):
        from onetable_spark.formats.fs import LocalCommitFilesystem

        self.spark = spark
        self.table_path = table_path
        self.log_path = os.path.join(table_path, LOG_DIR)
        #: commit-plane filesystem seam (r12): every visibility-changing
        #: write — commit publish, checkpoint-part replace,
        #: _last_checkpoint swap — goes through this, so object-store
        #: deployments inject conditional-put semantics here
        self.fs = fs or LocalCommitFilesystem()
        self._reader_checked = False
        #: physical→logical stats/partition key map (column-mapping tables)
        self._cm_map: Optional[dict[str, str]] = None

    def _ensure_reader_supported(self) -> None:
        """Once per DeltaLog instance: materialize the protocol action, run
        the reader-feature guard (snapshot_info checks inline; this covers
        snapshot_files-only consumers like the maintenance planner), and
        cache the column-mapping physical→logical key map."""
        if not self._reader_checked:
            info = self.snapshot_info()  # raises via _check_reader_protocol
            # dict() normalizes the checkpoint-recovered form, where
            # pyarrow renders the configuration map as (key, value) tuples
            cfg = dict(info.metadata.get("configuration") or {})
            if cfg.get("delta.columnMapping.mode") in ("name", "id"):
                self._cm_map = _physical_to_logical(info.metadata)
            self._reader_checked = True

    # ------------------------------------------------------------------ read

    def exists(self) -> bool:
        return os.path.isdir(self.log_path) and (
            bool(self._versions()) or self._last_checkpoint() is not None
        )

    def _versions(self) -> list[int]:
        if not os.path.isdir(self.log_path):
            return []
        return sorted(
            int(f[:20])
            for f in os.listdir(self.log_path)
            if f.endswith(".json") and len(f) == 25 and f[:20].isdigit()
        )

    def latest_version(self) -> int:
        versions = self._versions()
        if versions:
            return versions[-1]
        # log cleanup removes commits <= the checkpoint, so a quiesced
        # table may hold ONLY the checkpoint — that version is the latest
        ckpt = self._last_checkpoint()
        if ckpt is not None:
            return ckpt
        raise FileNotFoundError(f"no Delta log at {self.log_path}")

    def _last_checkpoint(self) -> Optional[int]:
        doc = self._last_checkpoint_doc()
        return None if doc is None else int(doc["version"])

    def _last_checkpoint_doc(self) -> Optional[dict]:
        p = os.path.join(self.log_path, "_last_checkpoint")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def _checkpoint_files(self, v: int) -> list[str]:
        """Every parquet part of the checkpoint at version ``v``: the
        classic single file, classic multi-part
        (``.checkpoint.{i:010d}.{n:010d}.parquet``), or the V2 uuid-named
        form (``.checkpoint.{uuid}.parquet``) — all from PROTOCOL.md
        §Checkpoints.

        Completeness is VERIFIED before anything is replayed (r11, per
        the protocol's multi-part rule): a torn multi-part checkpoint —
        one part missing — would otherwise silently replay a PARTIAL
        snapshot (dropped live files, wrong data, no error). The total
        embedded in the part names (``{n:010d}``) and the ``parts`` field
        of _last_checkpoint must both agree with what the listing found.
        JSON-format v2 checkpoints (``{v}.checkpoint.{uuid}.json``) are
        refused explicitly rather than surfacing as a confusing
        'no checkpoint files' error."""
        import glob as _glob
        import re as _re

        single = os.path.join(self.log_path, f"{v:020d}.checkpoint.parquet")
        if os.path.exists(single):
            return [single]
        found = sorted(
            _glob.glob(os.path.join(self.log_path, f"{v:020d}.checkpoint.*.parquet"))
        )
        if not found and _glob.glob(
            os.path.join(self.log_path, f"{v:020d}.checkpoint.*.json")
        ):
            raise ValueError(
                f"{self.log_path}: v{v} checkpoint is a JSON-format v2 "
                "checkpoint; only the parquet form is supported — refusing "
                "rather than mis-reading"
            )
        # classic multi-part names embed (index, total); validate them
        multi = _re.compile(r"\.checkpoint\.(\d{10})\.(\d{10})\.parquet$")
        matches = [m for f in found if (m := multi.search(f))]
        if matches:
            totals = {int(m.group(2)) for m in matches}
            indices = sorted(int(m.group(1)) for m in matches)
            declared = sorted(totals)
            n = totals.pop() if len(totals) == 1 else None
            if n is None or indices != list(range(1, n + 1)):
                raise ValueError(
                    f"{self.log_path}: v{v} multi-part checkpoint is "
                    f"incomplete/torn — found part indices {indices} "
                    f"(declared totals {declared}); "
                    "replaying a partial checkpoint would drop live files; "
                    "refusing rather than returning wrong data"
                )
            doc = self._last_checkpoint_doc()
            if doc and int(doc.get("version", -1)) == v and doc.get("parts") is not None:
                if int(doc["parts"]) != n:
                    raise ValueError(
                        f"{self.log_path}: v{v} checkpoint has {n} parts on "
                        f"disk but _last_checkpoint declares {doc['parts']}; "
                        "refusing rather than replaying a torn checkpoint"
                    )
        return found

    def _checkpoint_actions(self, v: int) -> DataFrame:
        """(add, remove) actions of the checkpoint at ``v``, resolving V2
        SIDECARS: a v2 checkpoint file carries ``sidecar`` actions naming
        parquet files under ``_delta_log/_sidecars/`` that hold the file
        actions (the main file may also carry them inline — both sides are
        unioned). Classic checkpoints fall straight through."""
        files = self._checkpoint_files(v)
        if not files:
            raise FileNotFoundError(f"no checkpoint files for v{v} in {self.log_path}")
        df = self.spark.read.parquet(*files)

        def project(prefix: str, target: T.StructType, have_type) -> F.Column:
            """Rebuild a struct column to EXACTLY ``target``: missing
            fields null, extra fields dropped, nested structs recursed
            (foreign checkpoints carry tags/stats_parsed/maxRowIndex;
            pre-DV checkpoints lack deletionVector — either shape would
            break the union with the JSON commit actions)."""
            have = (
                {f.name: f.dataType for f in have_type.fields}
                if isinstance(have_type, T.StructType)
                else {}
            )
            cols = []
            for f in target.fields:
                if f.name not in have:
                    cols.append(F.lit(None).cast(f.dataType).alias(f.name))
                elif isinstance(f.dataType, T.StructType):
                    inner = project(f"{prefix}.{f.name}", f.dataType, have[f.name])
                    cols.append(
                        F.when(F.col(f"{prefix}.{f.name}").isNotNull(), inner).alias(f.name)
                    )
                else:
                    cols.append(F.col(f"{prefix}.{f.name}").cast(f.dataType).alias(f.name))
            return F.struct(*cols)

        def pad(d: DataFrame) -> DataFrame:
            for name, schema in (("add", ADD_SCHEMA), ("remove", REMOVE_SCHEMA)):
                if name not in d.columns:
                    d = d.withColumn(name, F.lit(None).cast(schema))
                else:
                    rebuilt = project(name, schema, d.schema[name].dataType)
                    d = d.withColumn(name, F.when(F.col(name).isNotNull(), rebuilt))
            return d.select("add", "remove")

        parts = []
        if "add" in df.columns or "remove" in df.columns:
            parts.append(pad(df))
        if "sidecar" in df.columns:
            # driver-ok: one row per sidecar FILE (same order as a manifest
            # list), never per data file
            names = [
                r["p"]
                for r in df.select(F.col("sidecar.path").alias("p"))
                .where(F.col("p").isNotNull())
                .collect()
            ]
            if names:
                paths = [
                    p if os.path.isabs(p) or "://" in p
                    else os.path.join(self.log_path, "_sidecars", p)
                    for p in names
                ]
                parts.append(pad(self.spark.read.parquet(*paths)))
        if not parts:
            raise ValueError(f"checkpoint v{v} carries no file actions or sidecars")
        out = parts[0]
        for extra in parts[1:]:
            out = out.unionByName(extra, allowMissingColumns=True)
        return out.where(F.col("add").isNotNull() | F.col("remove").isNotNull())

    def _actions_df(self, versions: list[int]) -> DataFrame:
        """All actions in the given commit files, tagged with version."""
        paths = [_version_path(self.table_path, v) for v in versions]
        df = self.spark.read.schema(ACTION_SCHEMA).json(paths)
        # version = numeric prefix of the commit file name
        return df.withColumn(
            "version",
            F.regexp_extract(F.element_at(F.split(F.input_file_name(), "/"), -1), r"^(\d+)", 1).cast(
                "long"
            ),
        )

    def snapshot_files(self, version: Optional[int] = None) -> DataFrame:
        """Reconstruct the live file set at ``version`` as FILES_SCHEMA.

        Log replay = for each path keep the action from the highest
        version (same-version remove+add ties break toward the add — the
        deletion-vector commit shape), keep adds. One window shuffle on
        path — fully distributed, mirrors what ``snapshot.allFiles()``
        gives delta-spark.
        """
        self._ensure_reader_supported()
        return self._adds_to_files(self._live_adds(self._replay_actions(version)))

    def _live_adds(self, actions: DataFrame) -> DataFrame:
        """Log replay core: latest action per path wins; within one
        version the ADD wins the tiebreak (a deletion-vector commit is
        remove+add of the SAME path in ONE version — the add carries the
        new DV; losing the tiebreak would vanish the file). Returns the
        surviving add structs exploded to columns."""
        fileish = actions.select(
            "version",
            F.coalesce(F.col("add.path"), F.col("remove.path")).alias("path"),
            F.col("add").alias("add"),
        ).filter(F.col("path").isNotNull())
        w = Window.partitionBy("path").orderBy(
            F.desc("version"), F.col("add").isNotNull().desc()
        )
        return (
            fileish.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & F.col("add").isNotNull())
            .select("add.*")
        )

    def _replay_actions(self, version: Optional[int] = None) -> DataFrame:
        """All (add, remove, version) actions contributing to the state at
        ``version`` — checkpoint base plus later commit JSONs."""
        upper = self.latest_version() if version is None else version
        ckpt = self._last_checkpoint()
        if ckpt is not None and ckpt <= upper:
            json_versions = [v for v in self._versions() if ckpt < v <= upper]
            base = self._checkpoint_actions(ckpt).withColumn(
                "version", F.lit(ckpt).cast("long")
            )
            return base.unionByName(
                self._actions_df(json_versions).select("add", "remove", "version"),
                allowMissingColumns=True,
            ) if json_versions else base
        return self._actions_df([v for v in self._versions() if v <= upper])

    def snapshot_with_deleted_positions(
        self, version: Optional[int] = None
    ) -> tuple[DataFrame, DataFrame]:
        """The RAW inventory (physical counts — no DV netting) plus the
        decoded ``(path, pos)`` rows of every live deletion vector — the
        inputs a delete-translating target needs (Iceberg position-delete
        authoring). Bitmaps decode ON EXECUTORS through the DV codec with
        CRC + cardinality cross-checks; the Delta twin of
        ``IcebergTable.snapshot_with_deleted_positions``."""
        import pandas as _pd

        from onetable_spark.formats.delta_dv import read_dv

        self._ensure_reader_supported()
        table_path = self.table_path
        live = self._live_adds(self._replay_actions(version))
        raw = self._adds_to_files(
            live.withColumn("deletionVector", F.lit(None).cast(DV_SCHEMA))
        )
        dvd = live.where(F.col("deletionVector").isNotNull()).select(
            "path", "deletionVector"
        )

        def decode(batches):
            from urllib.parse import unquote as _unquote

            for pdf in batches:
                frames = []
                for rel, dv in zip(pdf["path"], pdf["deletionVector"]):
                    # relative add paths are percent-encoded in the log;
                    # decode EXACTLY like _adds_to_files (F.url_decode) so
                    # positions join the raw inventory on identical paths —
                    # a mismatch here silently applies deletes to nothing
                    p = (
                        rel
                        if rel.startswith("/") or "://" in rel
                        else f"{table_path}/{_unquote(rel)}"
                    )
                    rows = read_dv(table_path, dict(dv))
                    frames.append(_pd.DataFrame({"path": p, "pos": rows}))
                yield (
                    _pd.concat(frames)
                    if frames
                    else _pd.DataFrame({"path": [], "pos": []})
                )

        positions = dvd.mapInPandas(decode, "path string, pos long")
        return raw, positions

    def verify_deletion_vectors(self, version: Optional[int] = None) -> DataFrame:
        """Trust-but-verify for DV'd files: decode every live AddFile's
        deletion-vector BITMAP (executors read the .bin payloads through
        formats/delta_dv.py — CRC, magic, size all checked) and compare
        the decoded cardinality against the descriptor the inventory
        trusted. One row per DV'd file:
        ``(path, descriptor_cardinality, decoded_cardinality, dv_ok)``."""
        import pandas as _pd

        from onetable_spark.formats.delta_dv import read_dv

        self._ensure_reader_supported()
        table_path = self.table_path
        dvd = (
            self._live_adds(self._replay_actions(version))
            .filter(F.col("deletionVector").isNotNull())
            .select("path", "deletionVector")
        )

        def check(batches):
            for pdf in batches:
                rows = []
                for path, dv in zip(pdf["path"], pdf["deletionVector"]):
                    desc = dict(dv)
                    decoded = len(read_dv(table_path, desc))
                    rows.append(
                        {
                            "path": path,
                            "descriptor_cardinality": desc["cardinality"],
                            "decoded_cardinality": decoded,
                            "dv_ok": decoded == desc["cardinality"],
                        }
                    )
                yield _pd.DataFrame(
                    rows,
                    columns=[
                        "path", "descriptor_cardinality",
                        "decoded_cardinality", "dv_ok",
                    ],
                )

        return dvd.mapInPandas(
            check,
            "path string, descriptor_cardinality long, "
            "decoded_cardinality long, dv_ok boolean",
        )

    def _logical_key(self, key):
        """Rename a stats/partitionValues key from its column-mapping
        PHYSICAL name to the logical one (identity when mapping is off or
        the key is already logical — our own writer keys logically even on
        mode=name tables)."""
        if not self._cm_map:
            return key
        mlit = F.create_map(
            *[F.lit(x) for pn, ln in sorted(self._cm_map.items()) for x in (pn, ln)]
        )
        return F.coalesce(F.try_element_at(mlit, key), key)

    def _adds_to_files(self, adds: DataFrame, extra: tuple = ()) -> DataFrame:
        """AddFile rows → FILES_SCHEMA. Deletion vectors (r11): the DV
        descriptor's ``cardinality`` is netted out of record and per-column
        value counts (the protocol requires writers to keep it exact);
        null counts become unknown on DV'd files — a deleted row's
        nullness is unknowable from metadata — while min/max bounds stay
        (deletion only narrows a range, so they remain valid for
        pruning). The physical path still names the FULL parquet file;
        targets receive the net-effect descriptor. ``extra`` columns of
        ``adds`` pass through unchanged."""
        stats = F.from_json(
            "stats",
            "struct<numRecords:long,minValues:map<string,string>,maxValues:map<string,string>,nullCount:map<string,long>>",
        )
        table_path = self.table_path
        abs_path = F.when(
            F.col("path").startswith("/") | F.col("path").contains("://"), F.col("path")
        ).otherwise(F.concat(F.lit(table_path + "/"), F.url_decode("path")))
        with_stats = adds.withColumn("st", stats)
        dv_card = (
            F.coalesce(F.col("deletionVector.cardinality"), F.lit(0))
            if "deletionVector" in adds.columns
            else F.lit(0)
        )
        with_stats = with_stats.withColumn("_dv_card", dv_card)
        part_values = F.col("partitionValues")
        if self._cm_map:
            part_values = F.transform_keys(
                "partitionValues", lambda k, _v: self._logical_key(k)
            )
        return with_stats.select(
            abs_path.alias("path"),
            F.lit("parquet").alias("file_format"),
            part_values.alias("partition_values"),
            F.col("size").alias("size"),
            (F.col("st.numRecords") - F.col("_dv_card")).alias("record_count"),
            F.col("modificationTime").alias("last_modified_millis"),
            F.transform(
                F.map_keys(F.col("st.minValues")),
                lambda k: F.struct(
                    self._logical_key(k).alias("field"),
                    F.element_at(F.col("st.minValues"), k).alias("min_value"),
                    F.element_at(F.col("st.maxValues"), k).alias("max_value"),
                    F.when(
                        F.col("_dv_card") == 0,
                        F.element_at(F.col("st.nullCount"), k),
                    ).alias("num_nulls"),
                    (F.col("st.numRecords") - F.col("_dv_card")).alias("num_values"),
                    F.lit(None).cast("long").alias("total_size"),
                ),
            ).alias("column_stats"),
            *extra,
        )

    def snapshot_info(self, version: Optional[int] = None) -> DeltaSnapshotInfo:
        """Latest metaData + protocol action at/below ``version``."""
        upper = self.latest_version() if version is None else version
        metadata: Optional[dict] = None
        protocol: Optional[dict] = None
        for v in sorted((x for x in self._versions() if x <= upper), reverse=True):
            with open(_version_path(self.table_path, v)) as f:
                for line in f:
                    action = json.loads(line)
                    if metadata is None and "metaData" in action:
                        metadata = action["metaData"]
                    if protocol is None and "protocol" in action:
                        protocol = action["protocol"]
            if metadata is not None and protocol is not None:
                break
        if metadata is None:
            # log-retention cleanup may have deleted the commit carrying the
            # metaData action — the checkpoint embeds it (protocol too)
            ckpt = self._last_checkpoint()
            if ckpt is not None and ckpt <= upper:
                import pyarrow.parquet as pq

                for part in self._checkpoint_files(ckpt):
                    pf = pq.ParquetFile(part)
                    cols = [
                        c for c in ("metaData", "protocol")
                        if c in pf.schema_arrow.names
                    ]
                    if not cols:
                        continue
                    for row in pq.read_table(part, columns=cols).to_pylist():
                        if metadata is None and row.get("metaData") and row["metaData"].get("schemaString"):
                            metadata = row["metaData"]
                        if protocol is None and row.get("protocol") and row["protocol"].get("minReaderVersion"):
                            protocol = row["protocol"]
        if metadata is None:
            raise ValueError(f"Delta log {self.log_path} has no metaData action")
        _check_reader_protocol(protocol or {}, self.log_path)
        return DeltaSnapshotInfo(version=upper, metadata=metadata, protocol=protocol or {})

    def table_descriptor(self, name: str | None = None) -> Table:
        info = self.snapshot_info()
        schema = _with_column_mapping_ids(
            T.StructType.fromJson(json.loads(info.metadata["schemaString"]))
        )
        pcols = info.metadata.get("partitionColumns") or []
        from onetable_spark.schema.partitions import partition_fields_from_delta_columns

        pfields = tuple(partition_fields_from_delta_columns(list(pcols), schema))
        commit_millis = self.commit_timestamp(info.version)
        return Table(
            name=name or info.metadata.get("name") or os.path.basename(self.table_path),
            base_path=self.table_path,
            table_format=TableFormat.DELTA,
            read_schema=schema,
            partition_fields=pfields,
            layout=DataLayoutStrategy.HIVE_STYLE_PARTITION if pcols else DataLayoutStrategy.FLAT,
            latest_commit_millis=commit_millis,
        )

    def current_snapshot(self) -> Snapshot:
        v = self.latest_version()
        return Snapshot(
            table=self.table_descriptor(),
            files=self.snapshot_files(v),
            version=str(v),
        )

    def changes_for_version(self, version: int) -> TableChange:
        """One commit's add/remove partition — DeltaSourceClient.java:106-142."""
        # the reader guard + column-mapping key map must be materialized
        # BEFORE _adds_to_files builds its expressions, or an incremental
        # sync of a columnMapping table would emit physical stats keys
        # while the snapshot path emits logical ones
        self._ensure_reader_supported()
        actions = self._actions_df([version])
        added = self._adds_to_files(
            actions.filter(F.col("add").isNotNull()).select("add.*")
        )
        table_path = self.table_path
        removed = (
            actions.filter(F.col("remove").isNotNull())
            .select(
                F.when(
                    F.col("remove.path").startswith("/") | F.col("remove.path").contains("://"),
                    F.col("remove.path"),
                )
                .otherwise(F.concat(F.lit(table_path + "/"), F.url_decode("remove.path")))
                .alias("path")
            )
        )
        commit_millis = self.commit_timestamp(version)
        return TableChange(
            table=self.table_descriptor(),
            diff=FilesDiff(added=added, removed=removed),
            commit_millis=commit_millis,
            commit_id=str(version),
        )

    def commit_timestamp(self, version: int) -> int:
        """The commit's own timestamp (commitInfo.timestamp, falling back
        to metaData.createdTime, then file mtime). In-commit timestamps
        survive log copies/restores; mtimes do not."""
        path = _version_path(self.table_path, version)
        try:
            with open(path) as f:
                for line in f:
                    action = json.loads(line)
                    if "commitInfo" in action and action["commitInfo"].get("timestamp"):
                        return int(action["commitInfo"]["timestamp"])
                    if "metaData" in action and action["metaData"].get("createdTime"):
                        return int(action["metaData"]["createdTime"])
        except (OSError, ValueError):
            pass
        if not os.path.exists(path):
            # log cleanup removed the commit JSON (checkpoint-only table):
            # the checkpoint part file's mtime is the best surviving signal
            parts = self._checkpoint_files(version)
            if parts:
                return int(os.stat(parts[0]).st_mtime * 1000)
        return int(os.stat(path).st_mtime * 1000)

    def versions_after_millis(self, millis: int) -> list[int]:
        """Commit backlog by timestamp — DeltaHistoryManager-equivalent
        (DeltaSourceClient.java:145-157), keyed on in-commit timestamps."""
        return [v for v in self._versions() if self.commit_timestamp(v) > millis]

    def get_table_properties(self) -> dict[str, str]:
        return dict(self.snapshot_info().metadata.get("configuration") or {})

    def get_sync_metadata(self) -> Optional[TableMetadata]:
        return TableMetadata.from_props(self.get_table_properties())

    # ----------------------------------------------------------------- write

    def init_table(
        self,
        table: Table,
        configuration: Optional[dict[str, str]] = None,
        retention_hours: int = 168,
    ) -> None:
        """Create version 0 with protocol + metaData (DeltaClient.java:149-200)."""
        os.makedirs(self.log_path, exist_ok=True)
        if self._versions():
            return
        conf = dict(configuration or {})
        conf.setdefault("delta.logRetentionDuration", f"interval {retention_hours} hours")
        actions = [
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
            {"metaData": self._metadata_action(table, conf)},
        ]
        self._commit_actions(0, actions, operation="CREATE TABLE")

    def _metadata_action(self, table: Table, conf: dict[str, str]) -> dict:
        meta = {
            "id": str(uuid.uuid4()),
            "name": table.name,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(_schema_with_generated_columns(table).jsonValue()),
            "partitionColumns": [c for p in table.partition_fields for c in p.column_names],
            "configuration": conf,
            "createdTime": int(time.time() * 1000),
        }
        return meta

    def commit(
        self,
        adds: DataFrame | None = None,
        removes: DataFrame | None = None,
        metadata: Optional[dict] = None,
        operation: str = "WRITE",
        max_retries: int = 10,
        txn: Optional[dict] = None,
        deletion_vectors: DataFrame | None = None,
        data_change: bool = True,
        cdc_adds: Optional[list[dict]] = None,
    ) -> int:
        """Optimistic commit of add/remove actions (FILES_SCHEMA inputs).

        Actions STREAM into a spool file line-by-line straight off Arrow
        record batches (``iter_inventory_rows``): the driver holds one
        columnar Arrow table (~10× smaller than a Row list: a Row-popping
        scheme peaked at ~380 MB per 500k files, the Arrow path at ~60 MB
        per million) plus O(batch) Python dicts, and every
        encoded line goes to the OS buffer immediately, so no payload-
        sized buffer ever exists. Version races republish the same spool
        via link(), no re-serialization. ``txn`` emits a SetTransaction
        action (PROTOCOL.md "Transaction Identifiers") — the
        idempotent-writer handle streaming sinks use.

        ``deletion_vectors``: ``(path, pos)`` rows to attach as REAL
        Delta DVs. Each affected add gets one RoaringBitmapArray .bin,
        authored on executors by the same per-file pass the keyed upsert
        uses (``_dv_pass``); the descriptors attach to the adds as they
        spool, and the protocol is upgraded to the deletionVectors reader
        feature (existing features preserved). The positions are the
        file's whole new DV, not an addition to its current one. The add
        stats must carry the RAW physical counts — the DV cardinality is
        what readers subtract. This is the Delta half of cross-format
        delete translation: an Iceberg MoR source's position deletes land
        as bit-exact DVs a Delta engine will honor row-for-row, instead of
        net-count-only metadata. On a change-data-feed table the same
        pass writes 'delete' change rows for the NEWLY-dead positions
        (positions an old DV already deletes are no change), unless the
        caller passes ``cdc_adds`` itself.

        ``data_change=False``: marks every add/remove as a LAYOUT
        change, not a logical one — what delta-spark writes for OPTIMIZE
        and REORG ... APPLY (PURGE). CDC/streaming readers use the flag
        to skip rewrite commits (DeltaSource's skipChangeCommits
        contract); a compaction that claimed dataChange=true would replay
        every rewritten row into downstream pipelines as if it were new.

        ``cdc_adds`` (PROTOCOL.md "Add CDC File"): Change Data Feed
        files — dicts with ``path`` (relative, under ``_change_data/``),
        ``size`` and ``partitionValues`` — emitted as ``cdc`` actions in
        the SAME commit. cdc actions never participate in table-state
        replay (the fixed ACTION_SCHEMA parse ignores them); the
        change-feed reader resolves them per version.
        """
        # driver-ok: Arrow-batched — one job, O(batch) Python objects
        # while spooling (see above)
        adds_tbl = adds.toArrow() if adds is not None else None
        dvs: dict[str, dict] = {}
        if deletion_vectors is not None:
            if adds_tbl is None:
                raise ValueError("deletion_vectors requires adds to attach to")
            cdf = cdc_adds is None and self.exists() and self.change_data_feed_enabled()
            dvs, dv_cdc = self._author_deletion_vectors(adds_tbl, deletion_vectors, cdf)
            if cdf:
                cdc_adds = dv_cdc
        remove_entries: list[tuple[str, dict]] = []
        if removes is not None:
            # PROTOCOL.md "Remove File": author partitionValues on every
            # remove. Values come from the LIVE add action being
            # dropped — one broadcast-pruned replay job, O(removes) on the
            # driver — so they carry the add's exact (possibly physical-
            # named) keys on any layout, hive or not.
            remove_rels = [
                _relativize(r["path"], self.table_path)
                for r in removes.select("path").collect()
            ]
            remove_pv: dict[str, dict] = {}
            pcols_now = list(
                (metadata or {}).get("partitionColumns")
                or (
                    self.snapshot_info().metadata.get("partitionColumns")
                    if self.exists()
                    else None
                )
                or []
            )
            if remove_rels and pcols_now:
                reldf = local_rows_df(
                    self.spark, [(p,) for p in remove_rels], "path string"
                )
                matched = (
                    self._live_adds(self._replay_actions())
                    .select("path", "partitionValues")
                    .join(F.broadcast(reldf), "path", "left_semi")
                )
                for r in matched.collect():
                    remove_pv[r["path"]] = dict(r["partitionValues"] or {})
            remove_entries = [(rel, remove_pv.get(rel, {})) for rel in remove_rels]
        return self._commit_inventory(
            [adds_tbl] if adds_tbl is not None else [],
            remove_entries,
            dvs,
            metadata=metadata,
            operation=operation,
            max_retries=max_retries,
            txn=txn,
            data_change=data_change,
            cdc_adds=cdc_adds,
        )

    def _commit_inventory(
        self,
        adds: list,
        removes: list[tuple[str, dict]],
        dvs: dict[str, dict],
        metadata: Optional[dict] = None,
        operation: str = "WRITE",
        max_retries: int = 10,
        txn: Optional[dict] = None,
        data_change: bool = True,
        cdc_adds: Optional[list[dict]] = None,
    ) -> int:
        """Publish one commit from driver-held rows — no Spark job but the
        periodic checkpoint's: ``adds``
        are Arrow tables of FILES_SCHEMA rows, ``removes`` pairs of
        (relative path, partitionValues), ``dvs`` the new DV descriptor of
        each affected add keyed by its absolute path."""
        now = int(time.time() * 1000)
        field_types: dict = {}
        if adds:
            schema_src = (metadata or {}).get("schemaString")
            if schema_src is None and self.exists():
                schema_src = self.snapshot_info().metadata.get("schemaString")
            if schema_src:
                try:
                    field_types = {
                        f.name: f.dataType
                        for f in T.StructType.fromJson(json.loads(schema_src)).fields
                    }
                except (ValueError, KeyError):
                    field_types = {}

        protocol_upgrade: Optional[dict] = None
        # upgrade ONLY when a DV actually lands: an empty positions frame
        # (e.g. a v2 source with no live deletes) must not lock older
        # readers out of the target by advertising a feature never used
        if dvs:
            current = self.snapshot_info().protocol if self.exists() else {}
            feats = set(current.get("readerFeatures") or [])
            if "deletionVectors" not in feats or (current.get("minReaderVersion") or 1) < 3:
                protocol_upgrade = {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    # preserve every feature already granted — overwriting
                    # the protocol with just deletionVectors would DROP them
                    "readerFeatures": sorted(feats | {"deletionVectors"}),
                    "writerFeatures": sorted(
                        set(current.get("writerFeatures") or []) | {"deletionVectors"}
                    ),
                }
        if cdc_adds:
            # changeDataFeed is a WRITER feature (readers of table state
            # are unaffected by cdc actions) — advertise it the first
            # time a cdc file actually lands
            current = protocol_upgrade or (
                self.snapshot_info().protocol if self.exists() else {}
            )
            wfeats = set(current.get("writerFeatures") or [])
            # legacy minWriterVersion 4-6 implies CDF capability ONLY when
            # no explicit feature list exists; with writerFeatures present
            # (v7) the list is authoritative and must name changeDataFeed
            legacy_ok = (
                current.get("writerFeatures") is None
                and (current.get("minWriterVersion") or 2) >= 4
            )
            if "changeDataFeed" not in wfeats and not legacy_ok:
                protocol_upgrade = {
                    "minReaderVersion": current.get("minReaderVersion") or 1,
                    "minWriterVersion": 7,
                    # readerFeatures must be ABSENT (not null) below
                    # minReaderVersion 3
                    **(
                        {"readerFeatures": current.get("readerFeatures")}
                        if current.get("readerFeatures") is not None
                        else {}
                    ),
                    "writerFeatures": sorted(wfeats | {"changeDataFeed"}),
                }

        # the dangling-DV guard rides the spool pass: the paths of the
        # adds that took a descriptor
        attached: set[str] = set()

        def lines():
            from onetable_spark.model import iter_inventory_rows

            yield json.dumps(
                {
                    "commitInfo": {
                        "timestamp": now,
                        "operation": operation,
                        "operationParameters": {},
                        "engineInfo": "onetable_spark/0.1",
                    }
                }
            )
            if protocol_upgrade is not None:
                yield json.dumps({"protocol": protocol_upgrade})
            if txn is not None:
                yield json.dumps({"txn": {**txn, "lastUpdated": now}})
            if metadata is not None:
                yield json.dumps({"metaData": metadata})
            for tbl in adds:
                for row in iter_inventory_rows(None, arrow_table=tbl):
                    dv = dvs.get(row["path"])
                    if dv is not None:
                        attached.add(row["path"])
                        row["_dv"] = dv
                    yield json.dumps(
                        {
                            "add": _file_row_to_add(
                                row, self.table_path, now, field_types,
                                data_change=data_change,
                            )
                        }
                    )
            for rel, pv in removes:
                yield json.dumps(
                    {
                        "remove": {
                            "path": rel,
                            "deletionTimestamp": now,
                            "dataChange": data_change,
                            "partitionValues": pv,
                        }
                    }
                )
            for c in cdc_adds or []:
                yield json.dumps(
                    {
                        "cdc": {
                            "path": c["path"],
                            "partitionValues": dict(c.get("partitionValues") or {}),
                            "size": int(c["size"]),
                            "dataChange": False,
                        }
                    }
                )

        spool = _spool_lines(self.log_path, lines())
        try:
            # dangling-DV guard: every authored bitmap must have found its
            # add in the spool pass above — compared as path sets, so a
            # duplicated add cannot stand in for a missing one; raised
            # BEFORE any publish, spool unlinked
            dangling = set(dvs) - attached
            if dangling:
                raise ValueError(
                    f"{len(dangling)} deletion-vector path(s) match no add "
                    f"(e.g. {sorted(dangling)[0]}) — positions must target "
                    "files in this commit's adds"
                )
            for _ in range(max_retries):
                version = (self._versions() or [-1])[-1] + 1
                try:
                    # put-if-absent through the commit-plane seam: POSIX
                    # link / object-store conditional put, same O_EXCL
                    # contract either way
                    self.fs.publish_if_absent(
                        spool, _version_path(self.table_path, version)
                    )
                except FileExistsError:
                    continue
                self._maybe_checkpoint(version)
                return version
        finally:
            os.unlink(spool)
        raise RuntimeError(f"commit contention on {self.log_path}")

    def _live_files_with_dvs(self) -> DataFrame:
        """The live files as FILES_SCHEMA rows with RAW physical counts
        (what a re-add must carry), plus each file's current DV descriptor
        as JSON (``_old_dv``, null without one) and its log
        ``partitionValues`` (physical keys, what a remove must carry)."""
        live = self._live_adds(self._replay_actions()).withColumn(
            "_old_dv", F.to_json("deletionVector")
        )
        return self._adds_to_files(
            live.withColumn("deletionVector", F.lit(None).cast(DV_SCHEMA)),
            extra=("_old_dv", "partitionValues"),
        )

    def _author_deletion_vectors(
        self, adds, positions: DataFrame, cdf: bool
    ) -> tuple[dict[str, dict], list[dict]]:
        """The direct DV commit's executor pass: positions grouped per file
        in the JVM, then one ``_dv_pass`` over the files. ``adds`` is the
        commit's Arrow inventory. With ``cdf`` each file's current DV is
        looked up first (one replay), so only NEWLY-dead positions become
        'delete' change rows; a commit with none still gets one EMPTY cdc
        file, which keeps the version change_feed-derivable as a logical
        no-op. Returns ``(descriptors by path, cdc_adds)``."""
        add_pv = {
            r["path"]: dict(r["partition_values"] or [])
            for r in adds.select(["path", "partition_values"]).to_pylist()
        }
        schema, pcols, old = None, [], {}
        if cdf:
            info = self.snapshot_info()
            schema = T.StructType.fromJson(json.loads(info.metadata["schemaString"]))
            pcols = list(info.metadata.get("partitionColumns") or [])
            wanted = local_rows_df(self.spark, [(p,) for p in add_pv], "path string")
            # driver-ok: one row per file of this commit's adds
            old = {
                r["path"]: r["_old_dv"]
                for r in self._live_files_with_dvs()
                .join(F.broadcast(wanted), "path", "left_semi")
                .select("path", "_old_dv")
                .toArrow()
                .to_pylist()
            }
        files = local_rows_df(
            self.spark,
            [(p, old.get(p), json.dumps(pv)) for p, pv in add_pv.items()],
            "path string, dv string, pv string",
        )
        per_file = (
            positions.groupBy("path")
            .agg(F.collect_list("pos").alias("pos"))
            .join(F.broadcast(files), "path", "left")
            .select("path", "dv", "pv", "pos")
        )
        out_schema = _pass_schema([])
        run = _dv_pass(
            self.table_path, schema, pcols, out_schema, None,
            "delete" if cdf else None, union=False,
        )
        # driver-ok: one row per affected file and per written cdc file;
        # the pass writes files, so this is its one execution
        out = per_file.mapInArrow(run, out_schema).toArrow().to_pylist()
        dvs = {r["path"]: json.loads(r["dv"]) for r in out if r["_kind"] == "dv"}
        cdc = _cdc_adds(out)
        if cdf and not cdc:
            cdc = _cdc_adds(_ChangeFiles(self.table_path, schema, []).write(empty=True))
        return dvs, cdc

    def purge_deletion_vectors(self) -> Optional[int]:
        """REORG TABLE ... APPLY (PURGE) (r12): every live AddFile that
        carries a deletion vector is rewritten WITHOUT its dead rows into
        a fresh parquet, and ONE commit removes the DV'd adds and adds
        the purged files with honest raw stats (no descriptor to net) —
        the Delta sibling of ``IcebergTable.rewrite_data_files`` and the
        operation delta-spark runs for ``REORG ... APPLY (PURGE)``. After
        it, the data plane equals the stats plane: engines that never
        understood deletionVectors (the reference's Delta reader predates
        the feature, DeltaSourceClient) read correct rows instead of
        resurrecting the deleted ones. Time travel to the pre-purge
        version still nets through the old descriptors — the purge is a
        normal remove+add commit, not history rewriting. The protocol is
        NOT downgraded (matching delta-spark: dropping a table feature is
        a separate, checkpoint-gated operation). A file whose DV kills
        every row is removed without a replacement add.

        Rewrites run one affected file per task (mapInPandas over the
        DV'd adds — each task decodes its bitmap via the DV codec, takes
        the survivor positions with pyarrow, writes one file); an eager
        localCheckpoint pins the side-effecting run so the commit reads
        ONE materialized mapping. Returns the commit version, or None
        when no live add carries a deletion vector."""
        import uuid as _uuid

        import pandas as _pd

        from onetable_spark.sources.parquet_inventory import build_inventory

        self._ensure_reader_supported()
        table_path = self.table_path
        live = self._live_adds(self._replay_actions(None))
        dvd = live.filter(F.col("deletionVector").isNotNull()).select(
            "path", "deletionVector", "partitionValues"
        )

        def rewrite(batches):
            import os as _os
            from urllib.parse import unquote as _unquote

            import numpy as _np
            import pyarrow.parquet as _pq

            from onetable_spark.formats.delta_dv import read_dv

            for pdf in batches:
                rows = []
                for rel, dv, pv in zip(
                    pdf["path"], pdf["deletionVector"], pdf["partitionValues"]
                ):
                    src = (
                        rel
                        if rel.startswith("/") or "://" in rel
                        else f"{table_path}/{_unquote(rel)}"
                    )
                    dead = _np.fromiter(
                        read_dv(table_path, dict(dv)), dtype=_np.int64
                    )
                    t = _pq.read_table(src)
                    survivors = _np.setdiff1d(
                        _np.arange(len(t), dtype=_np.int64), dead
                    )
                    new_path = None
                    if len(survivors):
                        # write NEXT TO the source file: on a partitioned
                        # table the replacement stays inside its hive dir,
                        # and the add below carries the source's
                        # partitionValues — a root-level replacement with
                        # an empty map would vanish from partition-filtered
                        # scans (ADVICE r12 medium)
                        new_path = _os.path.join(
                            _os.path.dirname(src),
                            f"purged-{_uuid.uuid4().hex}.parquet",
                        )
                        _pq.write_table(t.take(survivors), new_path)
                    rows.append(
                        {"old_path": src, "new_path": new_path,
                         "partitionValues": dict(pv) if pv is not None else {}}
                    )
                yield _pd.DataFrame(
                    rows, columns=["old_path", "new_path", "partitionValues"]
                ) if rows else _pd.DataFrame(
                    {"old_path": [], "new_path": [], "partitionValues": []}
                )

        # eager localCheckpoint: the rewrite WRITES files (fresh uuid per
        # execution) — the commit below must read one materialized run
        mapping = dvd.mapInPandas(
            rewrite,
            "old_path string, new_path string, partitionValues map<string,string>",
        ).localCheckpoint(eager=True)
        # driver-ok: one row per AFFECTED file (the purge payload)
        pairs = mapping.collect()
        if not pairs:
            return None
        new_paths = sorted(r["new_path"] for r in pairs if r["new_path"])
        adds = None
        if new_paths:
            adds = build_inventory(self.spark, new_paths, root=table_path)
            # partitionValues travel VERBATIM from the purged add (Delta
            # logs are authoritative over path layout — hive-dir inference
            # would silently yield {} on non-hive file layouts)
            pv_df = local_rows_df(
                self.spark,
                [
                    (r["new_path"], dict(r["partitionValues"] or {}))
                    for r in pairs
                    if r["new_path"]
                ],
                "path string, _src_pv map<string,string>",
            )
            adds = (
                adds.join(F.broadcast(pv_df), "path", "left")
                .withColumn(
                    "partition_values",
                    F.coalesce(F.col("_src_pv"), F.col("partition_values")),
                )
                .drop("_src_pv")
            )
        removes = local_rows_df(
            self.spark, [(r["old_path"],) for r in pairs], "path string"
        )
        return self.commit(
            adds=adds, removes=removes, operation="REORG", data_change=False
        )

    #: keyed-upsert broadcast cap — the new-key set must stay executor-
    #: memory-sized (the same bound the Iceberg eq-delete scan enforces);
    #: a bigger change set is a batch rewrite, not a merge
    _MAX_UPSERT_KEYS = 1_000_000

    def upsert_by_key(
        self,
        adds: DataFrame,
        key_fields: list[str],
        txn: Optional[dict] = None,
        operation: str = "MERGE",
    ) -> int:
        """Delta MERGE-shaped KEYED UPSERT via deletion vectors: one
        commit adds the new files and attaches a DV to every existing live
        file holding a row whose key matches a new row's key — the Delta
        twin of ``IcebergTable.commit_upsert`` (there the keys ride an
        equality-delete file; here they resolve to positions at write
        time, because Delta has no deferred delete form besides DVs).

        Each side of the merge is read once:

        1. New side: the ``adds`` inventory comes to the driver as Arrow
           once (the commit spools from it), and a JVM parquet scan of its
           files yields the distinct non-null new keys, capped at
           ``_MAX_UPSERT_KEYS`` and broadcast.
        2. Old side: one log replay, PRUNED by the live files' min/max
           stats on the first key field (a merge touching 0.1% of keys
           opens only the stat-overlapping files — the same skipping
           delta-spark's MERGE does); the candidate files' rows come to
           the driver once, each with its current DV descriptor.
        3. One executor pass over the candidates (``_dv_pass``): per file
           it matches the key columns against the broadcast keys, unions
           the matches with the positions the old DV already deletes (a
           DV replaces, never stacks), authors the new DV, and — with the
           change data feed on — writes the rows at the NEWLY-dead
           positions as ``update_preimage`` change rows and returns their
           keys. Files with no newly-dead row are left untouched.
        4. Change data feed only: one pass over the new files
           (``_new_rows_pass``) writes their rows as ``update_postimage``
           when the key is among those returned keys, ``insert``
           otherwise. A key whose old row was already dead therefore
           yields an insert, not an update.
        5. The commit spools from the driver-held rows — the affected
           files re-added with their new DVs, the new files, the removes
           and the cdc actions — with no further Spark job.

        O(matches) rows leave the executors; no table row reaches the
        driver. NULL keys never match. Rows duplicated WITHIN the new
        files stay duplicated — MERGE assumes source keys unique,
        matching delta-spark. ``txn`` rides the same commit (the streaming
        sink's exactly-once handle).

        Returns the committed version."""
        import pyarrow as pa
        import pyarrow.compute as pc

        from pyspark.sql.pandas.types import to_arrow_schema

        self._ensure_reader_supported()
        table_path = self.table_path
        info = self.snapshot_info()
        schema = T.StructType.fromJson(json.loads(info.metadata["schemaString"]))
        pcols = list(info.metadata.get("partitionColumns") or [])
        by_name = {f.name: f for f in schema.fields}
        for n in key_fields:
            if n not in by_name or isinstance(
                by_name[n].dataType, (T.StructType, T.ArrayType, T.MapType)
            ):
                raise ValueError(
                    f"{table_path}: upsert key {n!r} is not a top-level "
                    "primitive column"
                )
            if n in pcols:
                # hive layout keeps partition columns OUT of the parquet
                # bytes — the key scan below reads keys from the files, so
                # a partition-column key would silently match nothing
                raise ValueError(
                    f"{table_path}: upsert key {n!r} is a partition column; "
                    "key on a data column (or rewrite the partition in batch)"
                )
        names = list(key_fields)
        key_struct = T.StructType([by_name[n] for n in names])
        cdf = self.change_data_feed_enabled()

        # driver-ok: the new files' inventory, one row per file
        new_tbl = adds.toArrow()
        new_files = [
            (r["path"], dict(r["partition_values"] or []))
            for r in new_tbl.select(["path", "partition_values"]).to_pylist()
        ]
        keys = to_arrow_schema(key_struct).empty_table()
        if new_files:
            # driver-ok: the merge's change-key set, cap-checked right below
            keys = (
                self.spark.read.schema(key_struct)
                .parquet(*[p for p, _ in new_files])
                .select(*names)
                .dropna()
                .distinct()
                .limit(self._MAX_UPSERT_KEYS + 1)
                .toArrow()
            )
        if keys.num_rows > self._MAX_UPSERT_KEYS:
            raise ValueError(
                f"{table_path}: more than {self._MAX_UPSERT_KEYS} upsert keys "
                "exceed the broadcast cap; rewrite in batch instead of merging"
            )

        cand = None
        if keys.num_rows:
            cand = self._live_files_with_dvs()
            # stats prune on the FIRST key field: a live file whose min/max
            # range cannot contain ANY new key is never opened
            kf = names[0]
            ktype = by_name[kf].dataType
            if not isinstance(ktype, (T.BooleanType, T.BinaryType)):
                bounds = pc.min_max(keys.column(kf))
                stat = F.expr(
                    f"filter(coalesce(column_stats, array()), s -> s.field = '{kf}')"
                )
                lo = F.element_at(stat, 1)["min_value"].cast(ktype)
                hi = F.element_at(stat, 1)["max_value"].cast(ktype)
                cand = cand.where(
                    lo.isNull()
                    | hi.isNull()
                    | ((hi >= F.lit(bounds["min"].as_py()))
                       & (lo <= F.lit(bounds["max"].as_py())))
                )
            # driver-ok: the candidate files' inventory rows (stats-pruned)
            cand = cand.toArrow()

        out: list[dict] = []
        out_schema = _pass_schema(list(key_struct.fields))
        if cand is not None and cand.num_rows:
            files = local_rows_df(
                self.spark,
                [
                    (r["path"], r["_old_dv"], json.dumps(dict(r["partition_values"] or [])))
                    for r in cand.select(["path", "_old_dv", "partition_values"]).to_pylist()
                ],
                "path string, dv string, pv string",
            ).withColumn("pos", F.lit(None).cast("array<long>"))
            run = _dv_pass(
                table_path, schema, pcols, out_schema,
                self.spark.sparkContext.broadcast(keys),
                "update_preimage" if cdf else None, union=True,
            )
            # driver-ok: one row per affected file / cdc file, plus the
            # keys of the newly-dead rows — O(matches); the pass writes
            # files, so this is its one execution
            out = files.mapInArrow(run, out_schema).toArrow().to_pylist()
        matched = pa.Table.from_pylist(
            [
                {n: r[f"_k{i}"] for i, n in enumerate(names)}
                for r in out
                if r["_kind"] == "key"
            ],
            schema=keys.schema,
        )
        dvs = {r["path"]: json.loads(r["dv"]) for r in out if r["_kind"] == "dv"}
        cdc_adds = _cdc_adds(out)
        if cdf and new_files:
            rows = local_rows_df(
                self.spark,
                [(p, json.dumps(pv)) for p, pv in new_files],
                "path string, pv string",
            )
            run = _new_rows_pass(
                table_path, schema, pcols,
                self.spark.sparkContext.broadcast(matched),
            )
            # driver-ok: one row per written cdc file
            cdc_adds += _cdc_adds(
                rows.mapInArrow(run, _pass_schema([])).toArrow().to_pylist()
            )

        adds_out, removes = [new_tbl], []
        if dvs:
            # the affected files leave and come back with their new DVs
            hit = cand.filter(pc.is_in(cand.column("path"), pa.array(list(dvs))))
            adds_out.insert(0, hit.select(new_tbl.column_names))
            removes = [
                (_relativize(p, table_path), dict(pv or []))
                for p, pv in zip(
                    hit.column("path").to_pylist(),
                    hit.column("partitionValues").to_pylist(),
                )
            ]
        return self._commit_inventory(
            adds_out, removes, dvs, operation=operation, txn=txn,
            cdc_adds=cdc_adds or None,
        )

    # ------------------------------------------------- change data feed

    CDF_PROP = "delta.enableChangeDataFeed"

    def change_data_feed_enabled(self) -> bool:
        conf = self.snapshot_info().metadata.get("configuration") or {}
        return str(conf.get(self.CDF_PROP, "false")).lower() == "true"

    def _read_rows_with_pv(
        self,
        file_pv: list[tuple[str, Optional[dict]]],
        read_schema: T.StructType,
        schema: T.StructType,
        pcols: list[str],
    ) -> DataFrame:
        """Read parquet rows for ``(abs_path, partitionValues)`` pairs,
        coalescing each hive-partition column from the file's action map
        when the bytes don't carry it (foreign cdc files and all data
        files; this engine's r14+ cdc files are self-describing, so the
        physical value wins and the map is the fallback). The pv side is
        a broadcast O(files-in-commit) frame keyed by normalized path."""
        df = self.spark.read.schema(read_schema).parquet(
            *[p for p, _ in file_pv]
        )
        if not pcols:
            return df
        types = {f.name: f.dataType for f in schema.fields}
        pv_df = local_rows_df(
            self.spark,
            [(p, pv or {}) for p, pv in file_pv],
            "_src_file string, _pv map<string,string>",
        )
        df = df.withColumn("_src_file", local_path(F.input_file_name())).join(
            F.broadcast(pv_df), "_src_file", "left"
        )
        for c in pcols:
            df = df.withColumn(
                c, F.coalesce(F.col(c), F.col("_pv").getItem(c).cast(types[c]))
            )
        return df.drop("_src_file", "_pv")

    def change_feed(
        self,
        from_version: Optional[int] = None,
        to_version: Optional[int] = None,
        from_timestamp_millis: Optional[int] = None,
        to_timestamp_millis: Optional[int] = None,
    ) -> DataFrame:
        """Batch Change Data Feed read (delta-spark's ``table_changes``):
        table rows + ``_change_type`` + ``_commit_version``, one block per
        commit in [from_version, to_version].

        Per version: ``cdc`` actions, when present, are AUTHORITATIVE
        (their files carry exact row-level changes — what the CDF-enabled
        upsert writes); otherwise dataChange=true adds read as ``insert``
        rows and dataChange=true removes as ``delete`` rows — INCLUDING
        in a mixed add+remove commit (r14: delta-spark's CDCReader
        derives both sides of any non-cdc commit, the INSERT OVERWRITE /
        replaceWhere shape; the protocol obliges CDF writers to author
        cdc files for every commit that MODIFIES rows, so a compliant
        table's non-cdc commits only ever wholly add or wholly drop
        them — the r13 refusal was stricter than delta-spark and broke
        overwrite history reads). dataChange=false commits
        (OPTIMIZE/REORG) contribute nothing.

        Partitioned tables (r14): partition columns live in the actions'
        ``partitionValues`` maps, not the parquet bytes — each emitted row
        coalesces them from its file's action (removes carry no map in
        this engine's log, so the delete branch looks them up in the
        parent snapshot), matching delta-spark's CDC projection.

        Timestamp bounds (r14 — delta-spark's ``startingTimestamp`` /
        ``endingTimestamp``): ``from_timestamp_millis`` resolves to the
        EARLIEST commit at-or-after it, ``to_timestamp_millis`` to the
        LATEST commit at-or-before it, on IN-COMMIT timestamps
        (``commit_timestamp`` — mtimes don't survive log copies). Each
        timestamp bound is mutually exclusive with its version twin."""
        self._ensure_reader_supported()
        if from_timestamp_millis is not None:
            if from_version is not None:
                raise ValueError(
                    "from_version and from_timestamp_millis are mutually "
                    "exclusive"
                )
            from_version = next(
                (
                    v for v in self._versions()
                    if self.commit_timestamp(v) >= from_timestamp_millis
                ),
                None,
            )
            if from_version is None:
                # every commit predates the bound — empty feed, the same
                # answer delta-spark gives past the log's end
                from_version = self.latest_version() + 1
        if from_version is None:
            raise ValueError(
                "change_feed needs from_version or from_timestamp_millis"
            )
        if to_timestamp_millis is not None:
            if to_version is not None:
                raise ValueError(
                    "to_version and to_timestamp_millis are mutually "
                    "exclusive"
                )
            to_version = max(
                (
                    v for v in self._versions()
                    if self.commit_timestamp(v) <= to_timestamp_millis
                ),
                default=-1,
            )
        upper = self.latest_version() if to_version is None else to_version
        versions = [v for v in self._versions() if from_version <= v <= upper]
        info = self.snapshot_info(upper if versions else None)
        schema = T.StructType.fromJson(json.loads(info.metadata["schemaString"]))
        pcols = list(info.metadata.get("partitionColumns") or [])
        out_schema = T.StructType(
            list(schema.fields)
            + [
                T.StructField("_change_type", T.StringType()),
                T.StructField("_commit_version", T.LongType()),
            ]
        )
        if not versions:
            return local_rows_df(self.spark, [], out_schema)
        acts = self._actions_df(versions)
        # driver-ok: O(actions in the requested commit range), PROJECTED
        # to (path, dataChange, partitionValues) — collecting whole add
        # structs would drag each file's stats JSON onto the driver
        rows = acts.select(
            "version",
            F.col("add.path").alias("add_path"),
            F.col("add.dataChange").alias("add_dc"),
            F.col("add.partitionValues").alias("add_pv"),
            F.col("remove.path").alias("rm_path"),
            F.col("remove.dataChange").alias("rm_dc"),
            F.col("remove.partitionValues").alias("rm_pv"),
            F.col("cdc.path").alias("cdc_path"),
            F.col("cdc.partitionValues").alias("cdc_pv"),
        ).collect()
        by_version: dict[int, dict[str, list]] = {}
        for r in rows:
            slot = by_version.setdefault(
                int(r["version"]), {"add": [], "remove": [], "cdc": []}
            )
            if r["add_path"] is not None:
                slot["add"].append(
                    {"path": r["add_path"], "dataChange": r["add_dc"],
                     "pv": r["add_pv"]}
                )
            if r["rm_path"] is not None:
                slot["remove"].append(
                    {"path": r["rm_path"], "dataChange": r["rm_dc"],
                     "pv": r["rm_pv"]}
                )
            if r["cdc_path"] is not None:
                slot["cdc"].append({"path": r["cdc_path"], "pv": r["cdc_pv"]})

        def abs_path(rel: str) -> str:
            from urllib.parse import unquote as _unquote

            return (
                rel
                if rel.startswith("/") or "://" in rel
                else os.path.join(self.table_path, _unquote(rel))
            )

        frames = []
        for v in sorted(by_version):
            slot = by_version[v]
            if slot["cdc"]:
                df = self._read_rows_with_pv(
                    [(abs_path(c["path"]), c["pv"]) for c in slot["cdc"]],
                    T.StructType(
                        list(schema.fields)
                        + [T.StructField("_change_type", T.StringType())]
                    ),
                    schema,
                    pcols,
                )
            else:
                adds = [a for a in slot["add"] if a["dataChange"]]
                removes = [a for a in slot["remove"] if a["dataChange"]]
                if not adds and not removes:
                    continue  # metadata-only or dataChange=false commit
                legs = []
                for files, change in ((adds, "insert"), (removes, "delete")):
                    if not files:
                        continue
                    file_pv = [(abs_path(a["path"]), a["pv"]) for a in files]
                    if pcols and change == "delete":
                        # removes authored since r15 carry their own
                        # partitionValues (PROTOCOL.md); for LEGACY
                        # commits whose removes lack the map, recover
                        # from the parent snapshot (driver-ok:
                        # O(removed files) after the isin prune)
                        wanted = [p for p, pv in file_pv if pv is None]
                        looked = (
                            {
                                r["path"]: dict(r["partition_values"] or {})
                                for r in self.snapshot_files(v - 1)
                                .where(F.col("path").isin(wanted))
                                .select("path", "partition_values")
                                .collect()
                            }
                            if wanted
                            else {}
                        )
                        file_pv = [
                            (p, pv if pv is not None else looked.get(p))
                            for p, pv in file_pv
                        ]
                    legs.append(
                        self._read_rows_with_pv(
                            file_pv, schema, schema, pcols
                        ).withColumn("_change_type", F.lit(change))
                    )
                df = legs[0] if len(legs) == 1 else legs[0].unionByName(legs[1])
            frames.append(df.withColumn("_commit_version", F.lit(v).cast("long")))
        if not frames:
            return local_rows_df(self.spark, [], out_schema)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def update_configuration(self, updates: dict[str, str]) -> dict:
        """Return a metaData action carrying merged configuration (the
        sync-bookkeeping write, DeltaClient.java:263-271)."""
        info = self.snapshot_info()
        meta = dict(info.metadata)
        conf = dict(meta.get("configuration") or {})
        conf.update(updates)
        meta["configuration"] = conf
        return meta

    def _maybe_checkpoint(self, version: int) -> None:
        if version == 0 or version % CHECKPOINT_INTERVAL != 0:
            return
        # parts=None: checkpoint() auto-scales the part count from its own
        # (single, persisted) log replay — a separate snapshot_files(v)
        # count here would replay the log twice per checkpoint
        self.checkpoint(version, parts=None)
        self.clean_log()

    def clean_log(self, retention_hours: Optional[int] = None) -> int:
        """Metadata-retention maintenance (delta.logRetentionDuration,
        PROTOCOL.md log cleanup): delete commit JSONs that are BOTH behind
        the last checkpoint AND older than the retention horizon. Readers
        replay from the checkpoint, so reconstruction is unaffected;
        incremental consumers whose watermark predates the horizon fall
        back to FULL sync via is_incremental_sync_safe_from. Returns the
        number of files removed."""
        ckpt = self._last_checkpoint()
        if ckpt is None:
            return 0
        if retention_hours is None:
            conf = self.snapshot_info().metadata.get("configuration") or {}
            raw = conf.get("delta.logRetentionDuration", "interval 168 hours")
            try:
                retention_hours = int(raw.split()[1])
            except (IndexError, ValueError):
                retention_hours = 168
        horizon = int(time.time() * 1000) - retention_hours * 3600_000
        removed = 0
        for v in self._versions():
            if v >= ckpt:
                break
            if self.commit_timestamp(v) < horizon:
                os.unlink(_version_path(self.table_path, v))
                removed += 1
        return removed

    def checkpoint(
        self,
        version: Optional[int] = None,
        parts: Optional[int] = 1,
        form: str = "classic",
    ) -> None:
        """Write a parquet checkpoint of the full reconciled state.

        ``parts > 1`` writes the classic MULTI-PART form (one parquet per
        Spark partition, names embedding (index, total)) — the shape a
        million-file table needs so no single writer task serializes the
        whole inventory. ``parts=None`` auto-scales the part count from
        the live-file count (~250k adds per part) using THIS call's own
        replay — the replay is persisted so sizing, the DV probe, and the
        write all read one reconstruction instead of replaying the log
        per question.

        Spark writes the checkpoint (distributed), then `_last_checkpoint`
        is swapped atomically — readers never see a partial checkpoint.

        Tables with live deletion vectors checkpoint through the VERBATIM
        path (r11): the surviving add STRUCTS are written as-is — stats
        JSON untyped, DV descriptors preserved, the featured protocol
        action included — because the reconstruction path below would
        drop the descriptors and bake net numRecords into stats of
        physically larger files (delta-spark trusts checkpoint stats for
        COUNT(*) pushdown: silent wrong data).

        ``form="v2"`` (r12) writes the V2 uuid-named checkpoint: the file
        actions land as ``parts`` SIDECAR parquet files under
        ``_delta_log/_sidecars/``, and a small top-level
        ``{v}.checkpoint.{uuid}.parquet`` carries protocol + metaData +
        the spec-required checkpointMetadata action + one sidecar action
        per file. Refused unless the table's protocol already advertises
        the ``v2Checkpoint`` reader feature — older readers cannot
        resolve sidecars, and silently writing one would cut them off."""
        if form not in ("classic", "v2"):
            raise ValueError(f"unknown checkpoint form {form!r}")
        v = self.latest_version() if version is None else version
        self._ensure_reader_supported()
        if form == "v2":
            feats = set(self.snapshot_info(v).protocol.get("readerFeatures") or [])
            if "v2Checkpoint" not in feats:
                raise ValueError(
                    f"{self.log_path}: v2 checkpoints need the table to "
                    "advertise the v2Checkpoint reader feature "
                    "(minReaderVersion 3); write the classic form instead"
                )
        live_adds = self._live_adds(self._replay_actions(v)).persist()
        try:
            if parts is None:
                # driver-ok: one count scalar sizes the part fan-out
                parts = max(1, -(-live_adds.count() // 250_000))
            # driver-ok: emptiness probe, one boolean
            if not live_adds.where(F.col("deletionVector").isNotNull()).isEmpty():
                self._checkpoint_verbatim(v, live_adds, parts, form=form)
                return
            self._checkpoint_reconstructed(v, live_adds, parts, form=form)
        finally:
            live_adds.unpersist()

    def _checkpoint_reconstructed(
        self, v: int, live_adds: DataFrame, parts: int, form: str = "classic"
    ) -> None:
        """The DV-free checkpoint path: rebuild typed add structs from the
        reconciled inventory (stats re-serialized with to_json, bounds
        typed per the table schema)."""
        files = self._adds_to_files(live_adds)
        info = self.snapshot_info(v)
        now = int(time.time() * 1000)
        prefix = self.table_path.rstrip("/") + "/"

        # build add structs in Spark (distributed) — stats re-serialized
        # with to_json, path relativized against the table root. min/max
        # are TYPED per the table schema (same form commits write): numeric
        # fields cast from their footer strings, so checkpoint and commit
        # stats agree for external data-skipping readers.
        rel_path = F.when(
            F.col("path").startswith(prefix), F.expr(f"substring(path, {len(prefix) + 1})")
        ).otherwise(F.col("path"))
        try:
            tbl_schema = T.StructType.fromJson(json.loads(info.metadata["schemaString"]))
        except (KeyError, ValueError):
            tbl_schema = T.StructType([])

        def _typed_bound(map_col: str, f: T.StructField):
            raw = F.element_at(F.col(map_col), f.name)
            if isinstance(
                f.dataType,
                (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.FloatType,
                 T.DoubleType, T.DecimalType, T.BooleanType),
            ):
                return raw.cast(f.dataType).alias(f.name)
            return raw.alias(f.name)

        def _bounds_struct(map_col: str):
            if not tbl_schema.fields:
                return F.col(map_col)
            return F.struct(*[_typed_bound(map_col, f) for f in tbl_schema.fields])

        with_maps = (
            F.expr(
                "map_from_entries(transform(filter(coalesce(column_stats, array()),"
                " s -> s.min_value is not null), s -> struct(s.field, s.min_value)))"
            ).alias("_mins"),
            F.expr(
                "map_from_entries(transform(filter(coalesce(column_stats, array()),"
                " s -> s.max_value is not null), s -> struct(s.field, s.max_value)))"
            ).alias("_maxs"),
        )
        files = files.select("*", *with_maps)
        stats_json = F.to_json(
            F.struct(
                F.col("record_count").alias("numRecords"),
                _bounds_struct("_mins").alias("minValues"),
                _bounds_struct("_maxs").alias("maxValues"),
                F.expr(
                    "map_from_entries(transform(coalesce(column_stats, array()),"
                    " s -> struct(s.field, s.num_nulls)))"
                ).alias("nullCount"),
            )
        )
        add_rows = files.select(
            F.struct(
                rel_path.alias("path"),
                F.coalesce("partition_values", F.expr("map()")).alias("partitionValues"),
                F.col("size").alias("size"),
                F.coalesce("last_modified_millis", F.lit(now)).alias("modificationTime"),
                # PROTOCOL.md Checkpoints: "dataChange ... must be set to
                # false" when actions are written into a checkpoint
                F.lit(False).alias("dataChange"),
                F.when(F.col("column_stats").isNotNull(), stats_json).alias("stats"),
                F.lit(None).cast(DV_SCHEMA).alias("deletionVector"),
            ).alias("add"),
            F.lit(None).cast(REMOVE_SCHEMA).alias("remove"),
            F.lit(None).cast(METADATA_SCHEMA).alias("metaData"),
            F.lit(None).cast(PROTOCOL_SCHEMA).alias("protocol"),
        )
        head = _actions_head(
            self.spark,
            [
                json.dumps({"protocol": info.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}}),
                json.dumps({"metaData": info.metadata}),
            ],
        )
        self._publish_checkpoint(v, head.unionByName(add_rows), parts, form=form)

    def _checkpoint_verbatim(
        self, v: int, live_adds: DataFrame, parts: int = 1, form: str = "classic"
    ) -> None:
        """Checkpoint by writing the live add structs VERBATIM (plus the
        metaData + the FEATURED protocol action) — the DV-preserving path;
        log cleanup then works on deletion-vector tables instead of the
        log growing forever."""
        info = self.snapshot_info(v)
        protocol = {
            "minReaderVersion": info.protocol.get("minReaderVersion", 1),
            "minWriterVersion": info.protocol.get("minWriterVersion", 2),
            "readerFeatures": info.protocol.get("readerFeatures"),
            "writerFeatures": info.protocol.get("writerFeatures"),
        }
        add_rows = live_adds.select(
            F.struct(
                *[
                    # PROTOCOL.md Checkpoints: "dataChange ... must be set
                    # to false" for every checkpoint action — the live add
                    # keeps its original commit-time true otherwise
                    F.lit(False).alias("dataChange")
                    if f.name == "dataChange"
                    else F.col(f.name)
                    for f in ADD_SCHEMA.fields
                ]
            ).alias("add"),
            F.lit(None).cast(REMOVE_SCHEMA).alias("remove"),
            F.lit(None).cast(METADATA_SCHEMA).alias("metaData"),
            F.lit(None).cast(PROTOCOL_SCHEMA).alias("protocol"),
        )
        head = _actions_head(
            self.spark,
            [json.dumps({"protocol": protocol}), json.dumps({"metaData": info.metadata})],
        )
        self._publish_checkpoint(v, head.unionByName(add_rows), parts, form=form)

    def _publish_checkpoint(
        self, v: int, parsed, parts: int = 1, form: str = "classic"
    ) -> None:
        """Write the checkpoint parquet (single or classic MULTI-PART) and
        swap ``_last_checkpoint`` atomically — readers never see a partial
        checkpoint. Multi-part is the scale-correct form for million-file
        tables: ``parts`` Spark partitions write in parallel and each part
        name embeds (index, total), the completeness contract
        ``_checkpoint_files`` verifies on read. ``parts`` is a fan-out
        TARGET: the ACTUAL written-file count is authoritative (tiny
        tables can round-robin an output partition empty, and Spark skips
        empty files) — names and ``_last_checkpoint`` always record what
        landed on disk.

        ``form="v2"``: file actions write as SIDECARS under
        ``_delta_log/_sidecars/`` (``parts`` parallel writers), then one
        tiny uuid-named top-level parquet carries protocol + metaData +
        checkpointMetadata + the sidecar actions — the same resolution
        path ``_checkpoint_actions`` already reads."""
        if form == "v2":
            self._publish_checkpoint_v2(v, parsed, parts)
            return
        tmp_dir = os.path.join(self.log_path, f".ckpt-{uuid.uuid4().hex}")
        if parts <= 1:
            parsed.coalesce(1).write.mode("overwrite").parquet(tmp_dir)
        else:
            parsed.repartition(parts).write.mode("overwrite").parquet(tmp_dir)
        written = sorted(
            f for f in os.listdir(tmp_dir)
            if f.endswith(".parquet") and not f.startswith(".")
        )
        n = len(written)
        if n == 1:
            final = os.path.join(self.log_path, f"{v:020d}.checkpoint.parquet")
            self.fs.replace(os.path.join(tmp_dir, written[0]), final)
            doc = {"version": v}
        else:
            for i, f in enumerate(written, start=1):
                self.fs.replace(
                    os.path.join(tmp_dir, f),
                    os.path.join(
                        self.log_path,
                        f"{v:020d}.checkpoint.{i:010d}.{n:010d}.parquet",
                    ),
                )
            doc = {"version": v, "parts": n}
        for leftover in os.listdir(tmp_dir):
            os.remove(os.path.join(tmp_dir, leftover))
        os.rmdir(tmp_dir)
        # atomic swap: a reader must never see a torn _last_checkpoint
        self.fs.write_atomic(
            os.path.join(self.log_path, "_last_checkpoint"), json.dumps(doc)
        )

    def _publish_checkpoint_v2(self, v: int, parsed, parts: int) -> None:
        """The V2 write plane: sidecar parquet files hold the add/remove
        actions (parallel writers), the uuid-named top-level file holds
        protocol + metaData + the spec-required checkpointMetadata action
        + one sidecar action per file, and ``_last_checkpoint`` swaps
        last — readers never see a partial checkpoint (sidecars without a
        top-level file are unreferenced orphans, not a torn state)."""
        side_dir = os.path.join(self.log_path, "_sidecars")
        os.makedirs(side_dir, exist_ok=True)
        file_rows = parsed.where(
            F.col("add").isNotNull() | F.col("remove").isNotNull()
        ).select("add", "remove")
        head_rows = parsed.where(
            F.col("add").isNull() & F.col("remove").isNull()
        )
        tmp_dir = os.path.join(self.log_path, f".ckpt-{uuid.uuid4().hex}")
        if parts <= 1:
            file_rows.coalesce(1).write.mode("overwrite").parquet(tmp_dir)
        else:
            file_rows.repartition(parts).write.mode("overwrite").parquet(tmp_dir)
        sidecars = []
        now = int(time.time() * 1000)
        for f in sorted(
            x for x in os.listdir(tmp_dir)
            if x.endswith(".parquet") and not x.startswith(".")
        ):
            name = f"{uuid.uuid4().hex}.parquet"
            final = os.path.join(side_dir, name)
            self.fs.replace(os.path.join(tmp_dir, f), final)
            sidecars.append(
                {
                    "path": name,
                    "sizeInBytes": os.path.getsize(final),
                    "modificationTime": now,
                }
            )
        for leftover in os.listdir(tmp_dir):
            os.remove(os.path.join(tmp_dir, leftover))
        os.rmdir(tmp_dir)

        sidecar_type = (
            "struct<path:string,sizeInBytes:bigint,modificationTime:bigint>"
        )
        ckmeta_type = "struct<version:bigint>"
        head = head_rows.withColumn(
            "sidecar", F.lit(None).cast(sidecar_type)
        ).withColumn("checkpointMetadata", F.lit(None).cast(ckmeta_type))
        extra_rows = self.spark.range(
            len(sidecars) + 1, numPartitions=1
        ).select(
            F.lit(None).cast(ADD_SCHEMA).alias("add"),
            F.lit(None).cast(REMOVE_SCHEMA).alias("remove"),
            F.lit(None).cast(METADATA_SCHEMA).alias("metaData"),
            F.lit(None).cast(PROTOCOL_SCHEMA).alias("protocol"),
            F.when(
                F.col("id") < len(sidecars),
                F.from_json(
                    F.element_at(
                        F.array(*[F.lit(json.dumps(s)) for s in sidecars] + [F.lit("{}")]),
                        (F.col("id") + 1).cast("int"),
                    ),
                    sidecar_type,
                ),
            ).alias("sidecar"),
            F.when(
                F.col("id") == len(sidecars),
                F.from_json(F.lit(json.dumps({"version": v})), ckmeta_type),
            ).alias("checkpointMetadata"),
        )
        top = head.unionByName(extra_rows)
        top_tmp = os.path.join(self.log_path, f".ckpt-{uuid.uuid4().hex}")
        top.coalesce(1).write.mode("overwrite").parquet(top_tmp)
        part = next(
            x for x in os.listdir(top_tmp)
            if x.endswith(".parquet") and not x.startswith(".")
        )
        final = os.path.join(
            self.log_path, f"{v:020d}.checkpoint.{uuid.uuid4().hex}.parquet"
        )
        self.fs.replace(os.path.join(top_tmp, part), final)
        for leftover in os.listdir(top_tmp):
            os.remove(os.path.join(top_tmp, leftover))
        os.rmdir(top_tmp)
        # atomic swap LAST: a reader must never see a torn _last_checkpoint
        self.fs.write_atomic(
            os.path.join(self.log_path, "_last_checkpoint"), json.dumps({"version": v})
        )

    # ------------------------------------------------------------ utilities

    def _commit_actions(self, version: int, actions: list[dict], operation: str) -> None:
        commit_info = {
            "commitInfo": {
                "timestamp": int(time.time() * 1000),
                "operation": operation,
                "engineInfo": "onetable_spark/0.1",
            }
        }
        payload = "\n".join(json.dumps(a) for a in [commit_info, *actions]) + "\n"
        _atomic_write(_version_path(self.table_path, version), payload)


def _relativize(path: str, table_path: str) -> str:
    if path.startswith(table_path.rstrip("/") + "/"):
        rel = path[len(table_path.rstrip("/")) + 1 :]
        return quote(rel, safe="/=")
    return path


def _typed_stat(value, dtype: Optional[T.DataType]):
    """Footer stats arrive stringified; Delta stats JSON carries TYPED
    min/max (numbers unquoted, booleans bare — DeltaStatsExtractor /
    TestDeltaValueConverter value forms) so engines can data-skip without
    re-parsing. Unconvertible values stay strings (advisory stats)."""
    if dtype is None:
        return value
    try:
        if isinstance(dtype, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            return int(value)
        if isinstance(dtype, (T.FloatType, T.DoubleType, T.DecimalType)):
            return float(value)
        if isinstance(dtype, T.BooleanType):
            return str(value).lower() == "true"
    except (TypeError, ValueError):
        return value
    return value


def _file_row_to_add(
    row,
    table_path: str,
    now: int,
    field_types: Optional[dict] = None,
    data_change: bool = True,
) -> dict:
    stats = row["column_stats"]
    stats_json = None
    ft = field_types or {}
    if not stats and row["record_count"] is not None:
        # a known record count with intentionally-unknown per-column stats
        # (e.g. a realtime MOR source) still writes numRecords — the one
        # stat Delta readers use for COUNT(*) pushdown
        stats_json = json.dumps({"numRecords": row["record_count"]})
    if stats:
        min_values = {
            s["field"]: _typed_stat(s["min_value"], ft.get(s["field"]))
            for s in stats
            if s["min_value"] is not None
        }
        max_values = {
            s["field"]: _typed_stat(s["max_value"], ft.get(s["field"]))
            for s in stats
            if s["max_value"] is not None
        }
        null_count = {s["field"]: s["num_nulls"] for s in stats if s["num_nulls"] is not None}
        stats_json = json.dumps(
            {
                "numRecords": row["record_count"],
                "minValues": min_values,
                "maxValues": max_values,
                "nullCount": null_count,
            }
        )
    dv = row.get("_dv")
    return {
        "path": _relativize(row["path"], table_path),
        "partitionValues": dict(row["partition_values"] or {}),
        "size": row["size"],
        "modificationTime": row["last_modified_millis"] or now,
        "dataChange": data_change,
        **({"stats": stats_json} if stats_json else {}),
        **({"deletionVector": dict(dv)} if dv else {}),
    }


def _schema_with_generated_columns(table: Table) -> T.StructType:
    """The inverse of ``partition_fields_from_delta_columns`` (C5 write side,
    DeltaPartitionExtractor.java:227-248): time-transformed partition
    fields become string generated columns carrying
    ``delta.generationExpression`` metadata, appended to the schema if not
    already present — so the spec round-trips through the log."""
    from onetable_spark.schema.partitions import delta_generated_columns_for

    schema = table.read_schema
    names = set(schema.fieldNames())
    extra = []
    for pf in table.partition_fields:
        for col, expr, spark_type in delta_generated_columns_for(pf):
            if col in names:
                continue
            extra.append(
                T.StructField(
                    col,
                    T.IntegerType() if spark_type == "integer" else T.StringType(),
                    True,
                    # expr None = identity downgrade (bucket/truncate):
                    # a plain physical partition column, no generation
                    metadata=(
                        {"delta.generationExpression": expr} if expr else {}
                    ),
                )
            )
    return T.StructType(list(schema.fields) + extra) if extra else schema


