"""Delta deletion-vector storage codec (PROTOCOL.md §Deletion Vectors +
the public RoaringFormatSpec).

The descriptor on AddFile gives ``cardinality`` directly — that is what
the inventory plane nets out of record counts (formats/delta.py
``_adds_to_files``) without touching the bitmap. This module exists for
the TRUST layer: reading the actual bitmap bytes and cross-checking the
decoded cardinality against the descriptor certifies a foreign table's
DVs instead of believing its metadata, and gives row-level positions to
any future rewrite path. It implements:

- the Z85 alphabet used for uuid/inline payload encoding
  (``pathOrInlineDv``; 16-byte uuid → 20 chars),
- the on-disk DV file layout: 1-byte format version ``1``; per DV at its
  ``offset``: 4-byte big-endian length, the DV data, 4-byte big-endian
  CRC-32 of the data,
- DV data = 4-byte little-endian magic ``1681511377`` + a 64-bit
  RoaringBitmapArray in the PORTABLE format: 8-byte LE bitmap count,
  then per NON-EMPTY 32-bit bucket a 4-byte LE key (strictly
  ascending) followed by a standard RoaringBitmap serialization per
  RoaringFormatSpec (array / bitmap / run containers, both the no-run
  cookie 12346 and the run cookie 12347). The explicit per-bitmap key
  matches delta-spark's ``RoaringBitmapArray.serializeAsPortable`` —
  empty buckets are skipped, not emitted keyless-dense (r12 fix: the
  r11 codec omitted the key and mis-decoded real engine-written DVs).

The reference has no Delta-DV plane at all (it predates the feature); a
Databricks-written modern table tripped the r10 refusal — r11 reads it.
"""

from __future__ import annotations

import os
import struct
import uuid as _uuid
import zlib

#: Z85 (ZeroMQ base-85) alphabet — the variant the Delta spec names
_Z85 = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INV = {c: i for i, c in enumerate(_Z85)}

DV_MAGIC = 1681511377
DV_FILE_VERSION = 1


def z85_encode(data: bytes) -> str:
    if len(data) % 4:
        raise ValueError("z85 input must be 4-byte aligned")
    out = []
    for i in range(0, len(data), 4):
        n = int.from_bytes(data[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            n, r = divmod(n, 85)
            chunk.append(_Z85[r])
        out.extend(reversed(chunk))
    return "".join(out)


def z85_decode(text: str) -> bytes:
    if len(text) % 5:
        raise ValueError("z85 input must be 5-char aligned")
    out = bytearray()
    for i in range(0, len(text), 5):
        n = 0
        for c in text[i : i + 5]:
            n = n * 85 + _Z85_INV[c]
        out += n.to_bytes(4, "big")
    return bytes(out)


def dv_file_path(table_path: str, path_or_inline: str) -> str:
    """Resolve a storageType ``u`` payload: optional random prefix dir +
    20 z85 chars of uuid → ``<table>/<prefix>/deletion_vector_<uuid>.bin``."""
    prefix, encoded = path_or_inline[:-20], path_or_inline[-20:]
    u = _uuid.UUID(bytes=z85_decode(encoded))
    parts = [table_path]
    if prefix:
        parts.append(prefix)
    parts.append(f"deletion_vector_{u}.bin")
    return os.path.join(*parts)


# ------------------------------------------------------- roaring (decode)

_NO_RUN_COOKIE = 12346
_RUN_COOKIE = 12347
_NO_OFFSET_THRESHOLD = 4


def _decode_roaring32(buf: bytes, pos: int) -> tuple[list[int], int]:
    """One standard 32-bit RoaringBitmap at ``pos`` → (values, new_pos)."""
    cookie = struct.unpack_from("<i", buf, pos)[0]
    if (cookie & 0xFFFF) == _RUN_COOKIE:
        n = (cookie >> 16) + 1
        pos += 4
        run_flags = buf[pos : pos + (n + 7) // 8]
        pos += (n + 7) // 8
        has_run = [bool(run_flags[i // 8] & (1 << (i % 8))) for i in range(n)]
    elif cookie == _NO_RUN_COOKIE:
        n = struct.unpack_from("<i", buf, pos + 4)[0]
        pos += 8
        has_run = [False] * n
    else:
        raise ValueError(f"bad roaring cookie {cookie}")
    headers = []
    for i in range(n):
        key, card_m1 = struct.unpack_from("<HH", buf, pos)
        headers.append((key, card_m1 + 1))
        pos += 4
    if cookie == _NO_RUN_COOKIE or n >= _NO_OFFSET_THRESHOLD:
        pos += 4 * n  # offsets — payload is contiguous, we just skip them
    values: list[int] = []
    for i, (key, card) in enumerate(headers):
        base = key << 16
        if has_run[i]:
            n_runs = struct.unpack_from("<H", buf, pos)[0]
            pos += 2
            for _ in range(n_runs):
                start, length = struct.unpack_from("<HH", buf, pos)
                pos += 4
                values.extend(base | v for v in range(start, start + length + 1))
        elif card > 4096:
            words = struct.unpack_from("<1024Q", buf, pos)
            pos += 8192
            for wi, w in enumerate(words):
                while w:
                    b = w & -w
                    values.append(base | (wi * 64 + b.bit_length() - 1))
                    w ^= b
        else:
            vals = struct.unpack_from(f"<{card}H", buf, pos)
            pos += 2 * card
            values.extend(base | v for v in vals)
    return values, pos


def decode_rbm_array(data: bytes) -> list[int]:
    """Portable 64-bit RoaringBitmapArray data (magic included) → sorted
    row indexes."""
    magic = struct.unpack_from("<i", data, 0)[0]
    if magic != DV_MAGIC:
        raise ValueError(f"bad deletion-vector magic {magic}")
    n_bitmaps = struct.unpack_from("<q", data, 4)[0]
    pos = 12
    out: list[int] = []
    last_key = -1
    for _ in range(n_bitmaps):
        key = struct.unpack_from("<i", data, pos)[0]
        pos += 4
        if key <= last_key:
            raise ValueError(
                f"deletion-vector bitmap keys not strictly ascending "
                f"({key} after {last_key}) — corrupt portable serialization"
            )
        last_key = key
        vals, pos = _decode_roaring32(data, pos)
        out.extend((key << 32) | v for v in vals)
    return out


def read_dv(table_path: str, descriptor: dict) -> list[int]:
    """Deleted row indexes for one AddFile's DV descriptor. Verifies the
    stored CRC-32 and the descriptor's sizeInBytes before decoding."""
    st = descriptor["storageType"]
    if st == "i":
        data = z85_decode(descriptor["pathOrInlineDv"])
    elif st in ("u", "p"):
        path = (
            descriptor["pathOrInlineDv"]
            if st == "p"
            else dv_file_path(table_path, descriptor["pathOrInlineDv"])
        )
        with open(path, "rb") as f:
            raw = f.read()
        if raw[0] != DV_FILE_VERSION:
            raise ValueError(f"{path}: unsupported DV file version {raw[0]}")
        off = descriptor["offset"]
        (length,) = struct.unpack_from(">i", raw, off)
        data = raw[off + 4 : off + 4 + length]
        (crc,) = struct.unpack_from(">I", raw, off + 4 + length)
        if crc != (zlib.crc32(data) & 0xFFFFFFFF):
            raise ValueError(f"{path}: deletion-vector checksum mismatch")
    else:
        raise ValueError(f"unsupported DV storageType {st!r}")
    if descriptor.get("sizeInBytes") not in (None, len(data)):
        raise ValueError(
            f"DV sizeInBytes {descriptor['sizeInBytes']} != data {len(data)}"
        )
    rows = decode_rbm_array(data)
    card = descriptor.get("cardinality")
    if card is not None and card != len(rows):
        raise ValueError(
            f"DV descriptor cardinality {card} != decoded {len(rows)} — "
            "corrupt metadata; refusing rather than mis-counting"
        )
    return rows


# ------------------------------------------------------- roaring (encode)
# The encoder serves the conformance FIXTURE (spec-authored foreign
# bytes, same pattern as tools/foreign_iceberg.py) and the commit plane's
# DV authoring (``author_dv``). Array containers + the no-run cookie
# only, bitmap containers above 4096 values per 16-bit bucket.


def encode_rbm_array(rows: list[int]) -> bytes:
    buckets: dict[int, list[int]] = {}
    for r in sorted(set(rows)):
        buckets.setdefault(r >> 32, []).append(r & 0xFFFFFFFF)
    keys = sorted(buckets)
    out = bytearray(struct.pack("<iq", DV_MAGIC, len(keys)))
    for key in keys:
        out += struct.pack("<i", key)
        vals = buckets[key]
        containers: dict[int, list[int]] = {}
        for v in vals:
            containers.setdefault(v >> 16, []).append(v & 0xFFFF)
        ckeys = sorted(containers)
        out += struct.pack("<ii", _NO_RUN_COOKIE, len(ckeys))
        for ck in ckeys:
            out += struct.pack("<HH", ck, len(containers[ck]) - 1)

        def payload(vals: list[int]) -> bytes:
            if len(vals) > 4096:  # spec: must be a bitmap container
                words = [0] * 1024
                for v in vals:
                    words[v >> 6] |= 1 << (v & 63)
                return struct.pack("<1024Q", *words)
            return struct.pack(f"<{len(vals)}H", *sorted(vals))

        payloads = [payload(sorted(containers[ck])) for ck in ckeys]
        # offsets are relative to the start of THIS bitmap's serialization
        running = 8 + 4 * len(ckeys) + 4 * len(ckeys)
        for p in payloads:
            out += struct.pack("<i", running)
            running += len(p)
        for p in payloads:
            out += p
    return bytes(out)


def write_dv_file(table_path: str, rows: list[int], prefix: str = "") -> dict:
    """Author a storageType ``u`` DV file + descriptor for ``rows``."""
    u = _uuid.uuid4()
    rel_dir = os.path.join(table_path, prefix) if prefix else table_path
    os.makedirs(rel_dir, exist_ok=True)
    path = os.path.join(rel_dir, f"deletion_vector_{u}.bin")
    data = encode_rbm_array(rows)
    with open(path, "wb") as f:
        f.write(bytes([DV_FILE_VERSION]))
        offset = f.tell()
        f.write(struct.pack(">i", len(data)))
        f.write(data)
        f.write(struct.pack(">I", zlib.crc32(data) & 0xFFFFFFFF))
    return {
        "storageType": "u",
        "pathOrInlineDv": prefix + z85_encode(u.bytes),
        "offset": offset,
        "sizeInBytes": len(data),
        "cardinality": len(set(rows)),
    }


def author_dv(
    table_path: str, old: dict | None, dead, union: bool
) -> tuple[dict | None, "np.ndarray"]:
    """Author the DV that replaces one file's descriptor ``old`` (None:
    the file has no DV yet). ``dead`` holds the positions to delete; with
    ``union`` the new bitmap also keeps every position ``old`` already
    deletes (a DV replaces, never stacks), otherwise ``dead`` is the whole
    new set. Returns ``(descriptor, newly_dead)``: ``newly_dead`` is
    ``dead`` minus the positions ``old`` already deletes — the rows this
    DV takes out of the table. With ``union`` and nothing newly dead the
    file's DV would not change, so nothing is written and the descriptor
    is None."""
    import numpy as np

    dead = np.unique(np.asarray(dead, dtype=np.int64))
    prev = (
        np.asarray(read_dv(table_path, old), dtype=np.int64)
        if old
        else np.empty(0, dtype=np.int64)
    )
    newly = np.setdiff1d(dead, prev, assume_unique=True)
    if union:
        if not len(newly):
            return None, newly
        dead = np.union1d(prev, dead)
    return write_dv_file(table_path, dead.tolist()), newly
