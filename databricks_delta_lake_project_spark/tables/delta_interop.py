"""The open Delta Lake protocol, read side: log replay and codecs.

Every persistent table in the reference is stored as Delta
(``/root/reference/config/pipeline_config.py:32-60``,
``src/utils/delta_lake_features.py:37-41``), and so is every
``LakeTable`` the engine writes. This module holds what the engine
needs to understand a ``_delta_log`` without ``delta-spark``, and runs
no Spark job: the replay of JSON commits and parquet checkpoints into
table state, the snapshot cache in front of it, the deletion-vector
codec, the change-file planner of the change data feed, and the
schema helpers for column mapping. ``LakeTable`` scans the files a
state names.

Scale notes:
* Log replay is driver-side but O(|log since checkpoint|) — the same
  contract delta-spark itself has; `_last_checkpoint` is honored so a
  long-lived table replays O(checkpoint interval) JSON commits, and
  the checkpoint parquet is read with pyarrow, without a Spark job.
* A process-wide snapshot cache (``_replay``) keeps the newest state
  read per table root and advances it by the new JSON commits only, so
  a warm read or write costs a listing and a few ``stat`` calls.
* Deletion vectors, column mapping (incl. partitioned+mapped), V2
  checkpoints, and timestampNtz are implemented; anything ELSE a
  protocol action advertises is refused loudly rather than returning
  wrong rows.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from collections import OrderedDict
from pathlib import Path
from typing import Any, NamedTuple

import numpy as np
from pyspark.sql.types import StructType

DELTA_LOG_DIR = "_delta_log"

# Reader features the engine's scan implements. Anything else advertised
# by a protocol action with minReaderVersion >= 3 is refused.
_SUPPORTED_READER_FEATURES = {
    "timestampNtz",
    "v2Checkpoint",
    "deletionVectors",
    # reads resolve physicalNames (partitioned+mapped included);
    # check_readable still refuses mapped fields lacking them
    "columnMapping",
}

# ---------------------------------------------------------------------------
# Deletion vectors (open Delta protocol, PROTOCOL.md "Deletion Vectors")
#
# A `deletionVector` descriptor on an add action marks row INDICES of the
# data file as deleted. The bitmap is a RoaringBitmapArray (64-bit values
# split into a 32-bit bitmap index + a standard 32-bit roaring bitmap),
# stored inline (z85) or in a `deletion_vector_<uuid>.bin` sidecar file.
# ``LakeTable`` applies them as: read the marked files with
# `_metadata.row_index`, anti-join the deleted (file, index) pairs.
# ---------------------------------------------------------------------------

# ZeroMQ Z85 alphabet (the base85 variant the Delta spec mandates for
# encoding DV file UUIDs and inline bitmaps).
_Z85_ALPHABET = (
    "0123456789abcdefghijklmnopqrstuvwxyz"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ.-:+=^!/*?&<>()[]{}@%$#"
)
_Z85_INDEX = {c: i for i, c in enumerate(_Z85_ALPHABET)}

_ROARING_ARRAY_MAGIC = 1681511377
_SERIAL_COOKIE = 12347  # portable roaring, may contain run containers
_SERIAL_COOKIE_NO_RUN = 12346


def _z85_decode(s: str) -> bytes:
    if len(s) % 5:
        raise ValueError(f"z85 length must be a multiple of 5, got {len(s)}")
    out = bytearray()
    for i in range(0, len(s), 5):
        v = 0
        for c in s[i : i + 5]:
            v = v * 85 + _Z85_INDEX[c]
        out += v.to_bytes(4, "big")
    return bytes(out)


def _z85_encode(b: bytes) -> str:
    if len(b) % 4:
        raise ValueError("z85 input must be a multiple of 4 bytes")
    out = []
    for i in range(0, len(b), 4):
        v = int.from_bytes(b[i : i + 4], "big")
        chunk = []
        for _ in range(5):
            v, r = divmod(v, 85)
            chunk.append(_Z85_ALPHABET[r])
        out.extend(reversed(chunk))
    return "".join(out)


def _serialize_portable_roaring32(values: "np.ndarray") -> bytes:
    """Serialize sorted uint32 values as one standard portable-format
    roaring bitmap (no-run cookie; array containers <= 4096 values,
    bitmap containers above)."""
    import struct

    by_key: dict[int, list[int]] = {}
    for v in values.tolist():
        by_key.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(by_key)
    out = struct.pack("<II", _SERIAL_COOKIE_NO_RUN, len(keys))
    for k in keys:
        out += struct.pack("<HH", k, len(by_key[k]) - 1)
    containers = []
    for k in keys:
        vals = by_key[k]
        if len(vals) <= 4096:
            containers.append(struct.pack(f"<{len(vals)}H", *vals))
        else:
            words = np.zeros(1024, dtype="<u8")
            arr = np.asarray(vals, dtype=np.int64)
            np.bitwise_or.at(
                words, arr >> 6, (np.uint64(1) << (arr & 63).astype("u8"))
            )
            containers.append(words.tobytes())
    pos = len(out) + 4 * len(keys)
    for c in containers:
        out += struct.pack("<I", pos)
        pos += len(c)
    return out + b"".join(containers)


def _serialize_roaring_bitmap_array(positions: "np.ndarray") -> bytes:
    """Delta portable RoaringBitmapArray: magic, 64-bit bitmap count,
    then one portable 32-bit bitmap per high word (inverse of
    ``_parse_roaring_bitmap_array``)."""
    import struct

    positions = np.unique(np.asarray(positions, dtype=np.int64))
    highs = positions >> 32
    nmaps = int(highs.max()) + 1 if len(positions) else 0
    out = struct.pack("<iq", _ROARING_ARRAY_MAGIC, nmaps)
    for h in range(nmaps):
        out += _serialize_portable_roaring32(
            (positions[highs == h] & 0xFFFFFFFF).astype(np.uint32)
        )
    return out


def write_dv_file(root: str, positions: "np.ndarray") -> dict[str, Any]:
    """Write a ``deletion_vector_<uuid>.bin`` (format version byte,
    big-endian size framing, CRC32) holding one bitmap and return the
    add-action descriptor referencing it (storageType "u", z85 uuid)."""
    import struct
    import zlib

    data = _serialize_roaring_bitmap_array(positions)
    u = uuid.uuid4()
    blob = (
        b"\x01"
        + struct.pack(">I", len(data))
        + data
        + struct.pack(">I", zlib.crc32(data))
    )
    (Path(root) / f"deletion_vector_{u}.bin").write_bytes(blob)
    return {
        "storageType": "u",
        "pathOrInlineDv": _z85_encode(u.bytes),
        "offset": 1,
        "sizeInBytes": len(data),
        "cardinality": int(len(np.unique(positions))),
    }


def _parse_portable_roaring32(buf: bytes, pos: int) -> tuple[np.ndarray, int]:
    """Parse one standard portable-format 32-bit roaring bitmap
    (RoaringFormatSpec): cookie, descriptive headers, optional offset
    header, then array/bitmap/run containers. Returns (sorted int64
    values, next offset)."""
    cookie = int.from_bytes(buf[pos : pos + 4], "little")
    if (cookie & 0xFFFF) == _SERIAL_COOKIE:
        n = (cookie >> 16) + 1
        pos += 4
        nrun_bytes = (n + 7) // 8
        run_flags = buf[pos : pos + nrun_bytes]
        pos += nrun_bytes

        def has_run(i: int) -> bool:
            return bool((run_flags[i // 8] >> (i % 8)) & 1)

        has_offsets = n >= 4  # NO_OFFSET_THRESHOLD
    elif cookie == _SERIAL_COOKIE_NO_RUN:
        n = int.from_bytes(buf[pos + 4 : pos + 8], "little")
        pos += 8

        def has_run(i: int) -> bool:
            return False

        has_offsets = True
    else:
        raise ValueError(f"bad roaring cookie {cookie} at offset {pos}")
    keys, cards = [], []
    for _ in range(n):
        keys.append(int.from_bytes(buf[pos : pos + 2], "little"))
        cards.append(int.from_bytes(buf[pos + 2 : pos + 4], "little") + 1)
        pos += 4
    if has_offsets:
        pos += 4 * n  # containers are laid out sequentially anyway
    values: list[np.ndarray] = []
    for i in range(n):
        key = keys[i] << 16
        card = cards[i]
        if has_run(i):
            nruns = int.from_bytes(buf[pos : pos + 2], "little")
            pos += 2
            runs = (
                np.frombuffer(buf, dtype="<u2", count=2 * nruns, offset=pos)
                .astype(np.int64)
                .reshape(-1, 2)
            )
            pos += 4 * nruns
            for start, length in runs:
                values.append(key + np.arange(start, start + length + 1, dtype=np.int64))
        elif card <= 4096:
            arr = np.frombuffer(buf, dtype="<u2", count=card, offset=pos).astype(np.int64)
            pos += 2 * card
            values.append(key + arr)
        else:  # bitmap container: 1024 x 64-bit words
            words = np.frombuffer(buf, dtype="<u8", count=1024, offset=pos)
            pos += 8192
            bits = np.unpackbits(words.view(np.uint8), bitorder="little")
            values.append(key + np.nonzero(bits)[0].astype(np.int64))
    if not values:
        return np.empty(0, dtype=np.int64), pos
    return np.concatenate(values), pos


def _parse_roaring_bitmap_array(data: bytes) -> np.ndarray:
    """Parse Delta's portable RoaringBitmapArray: magic (4B LE), number
    of 32-bit bitmaps (8B LE), then each bitmap in standard portable
    format; bitmap i holds the low 32 bits of values with high bits i."""
    magic = int.from_bytes(data[:4], "little")
    if magic != _ROARING_ARRAY_MAGIC:
        raise ValueError(f"bad RoaringBitmapArray magic {magic}")
    nmaps = int.from_bytes(data[4:12], "little")
    pos = 12
    out: list[np.ndarray] = []
    for high in range(nmaps):
        vals, pos = _parse_portable_roaring32(data, pos)
        out.append((high << 32) + vals)
    if not out:
        return np.empty(0, dtype=np.int64)
    return np.concatenate(out)


def dv_file_path(root: str, dv: dict[str, Any]) -> Path | None:
    """Filesystem path of a DV descriptor's sidecar file (None for
    inline descriptors): storageType "p" is absolute; "u" decodes the
    z85 uuid tail after an optional random prefix."""
    st = dv["storageType"]
    if st == "i":
        return None
    if st == "p":
        return Path(dv["pathOrInlineDv"])
    if st == "u":
        enc = dv["pathOrInlineDv"]
        prefix, tail = enc[:-20], enc[-20:]
        u = uuid.UUID(bytes=_z85_decode(tail))
        base = Path(root) / prefix if prefix else Path(root)
        return base / f"deletion_vector_{u}.bin"
    raise NotImplementedError(f"DV storageType {st!r} not supported")


def _dv_positions(root: str, dv: dict[str, Any]) -> np.ndarray:
    """Resolve a deletionVector descriptor to the sorted int64 row
    indices it marks deleted. Driver-side and O(cardinality) — the same
    contract every Delta reader has (DVs are bounded by design; a file
    whose DV outgrows memory would have been rewritten by OPTIMIZE)."""
    st = dv["storageType"]
    size = int(dv["sizeInBytes"])
    if st == "i":
        data = _z85_decode(dv["pathOrInlineDv"])[:size]
    elif st in ("u", "p"):
        dv_path = dv_file_path(root, dv)
        assert dv_path is not None
        blob = dv_path.read_bytes()
        if blob[0] != 1:
            raise ValueError(f"unsupported DV file format version {blob[0]}")
        off = int(dv["offset"])
        stored = int.from_bytes(blob[off : off + 4], "big")
        if stored != size:
            raise ValueError(
                f"DV size mismatch at {dv_path}:{off}: header {stored} != "
                f"descriptor {size}"
            )
        data = blob[off + 4 : off + 4 + size]
    else:
        raise NotImplementedError(f"DV storageType {st!r} not supported")
    positions = _parse_roaring_bitmap_array(data)
    card = dv.get("cardinality")
    if card is not None and len(positions) != int(card):
        raise ValueError(
            f"DV cardinality mismatch: bitmap has {len(positions)}, "
            f"descriptor says {card}"
        )
    return positions


# characters java.net.URI leaves literal in a path — Spark's
# `_metadata.file_path` is rendered through it, so driver-side file
# keys must encode the SAME way ('+' stays literal; space -> %20).
_URI_PATH_SAFE = "/!$&'()*+,;=:@~"


def spark_file_key(root: str, rel: str) -> str:
    """The exact string ``regexp_replace(_metadata.file_path,
    '^file:/+', '/')`` yields for file ``rel`` under ``root``:
    absolute and lexically normalized (``..`` collapsed, as
    java.net.URI normalizes) but NOT symlink-resolved — Hadoop
    qualifies paths without realpath — and percent-encoded like
    java.net.URI. Every DV row-position join and touched-file probe
    must build its driver side through this function —
    ``Path.resolve()`` diverges under symlinked roots and raw paths
    diverge on any special character (a hive dir for partition value
    "a b" renders as ``day=a%20b``)."""
    from urllib.parse import quote

    return quote(os.path.abspath(Path(root) / rel), safe=_URI_PATH_SAFE)


def strip_schema_metadata(schema_json: str) -> str:
    """Structural fingerprint of a schemaString: names, types,
    nullability — metadata (column-mapping ids/physicalNames,
    invariants, comments) dropped recursively. Two schemas with equal
    fingerprints describe the same logical table."""

    def walk(node: Any) -> Any:
        if isinstance(node, dict):
            return {
                k: walk(v) for k, v in sorted(node.items()) if k != "metadata"
            }
        if isinstance(node, list):
            return [walk(x) for x in node]
        return node

    return json.dumps(walk(json.loads(schema_json)), sort_keys=True)


def merge_schema_metadata(current_json: str, incoming_json: str) -> str:
    """Carry each surviving field's existing metadata — invariants,
    comments, generation expressions — into an evolved schemaString
    when the incoming field declares none, RECURSIVELY through nested
    structs (and array/map element structs). A DataFrame-derived
    schema never carries metadata; losing it would silently disable
    constraint enforcement for every later writer."""

    def merge_fields(cur_fields, inc_fields):
        cur_by_name = {f["name"]: f for f in cur_fields}
        for f in inc_fields:
            c = cur_by_name.get(f["name"])
            if c is None:
                continue
            if not f.get("metadata") and c.get("metadata"):
                f["metadata"] = c["metadata"]
            merge_types(c.get("type"), f.get("type"))

    def merge_types(ct, ft):
        if not isinstance(ct, dict) or not isinstance(ft, dict):
            return
        t = ft.get("type")
        if t == "struct" and ct.get("type") == "struct":
            merge_fields(ct.get("fields", []), ft.get("fields", []))
        elif t == "array" and ct.get("type") == "array":
            merge_types(ct.get("elementType"), ft.get("elementType"))
        elif t == "map" and ct.get("type") == "map":
            merge_types(ct.get("valueType"), ft.get("valueType"))

    parsed = json.loads(incoming_json)
    merge_fields(
        json.loads(current_json).get("fields", []),
        parsed.get("fields", []),
    )
    return json.dumps(parsed)


def coerce_partition_value(s: Any) -> Any:
    """Serialized partition value → the type a predicate literal would
    parse to, so stats-pruning compares like with like. Only coerces
    when the round-trip is exact (``"00123"`` stays a string because a
    quoted predicate literal would too); ISO dates compare correctly
    as strings."""
    if isinstance(s, str):
        try:
            if str(int(s)) == s:
                return int(s)
        except ValueError:
            pass
        try:
            if str(float(s)) == s:
                return float(s)
        except ValueError:
            pass
    return s


def synth_partition_stats(entry: dict[str, Any]) -> None:
    """Fold an add entry's partitionValues into its stats dict as
    min=max point intervals — partition pruning then rides the same
    ``_prune_by_stats`` driver-side skip as footer stats."""
    pv = entry.get("partitionValues") or {}
    if not pv:
        return
    stats = entry.setdefault("stats", {})
    rows = entry.get("rows", 0)
    for c, v in pv.items():
        if c in stats:
            continue
        if v is None:
            stats[c] = {"min": None, "max": None, "nulls": rows}
        else:
            cv = coerce_partition_value(v)
            stats[c] = {"min": cv, "max": cv, "nulls": 0}


def is_delta_table(path: str) -> bool:
    log = Path(path) / DELTA_LOG_DIR
    return log.is_dir() and any(log.glob("*.json"))


_PHYS_KEY = "delta.columnMapping.physicalName"


def _physical_type(dt):
    """Recursively rename struct fields to their column-mapping
    physical names (arrays/maps recurse into their element types)."""
    from pyspark.sql.types import ArrayType, MapType

    if isinstance(dt, StructType):
        return StructType(
            [
                type(f)(
                    f.metadata.get(_PHYS_KEY, f.name),
                    _physical_type(f.dataType),
                    f.nullable,
                )
                for f in dt.fields
            ]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_physical_type(dt.elementType), dt.containsNull)
    if isinstance(dt, MapType):
        return MapType(
            _physical_type(dt.keyType),
            _physical_type(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def physical_name_map(schema: StructType) -> dict[str, str]:
    """Top-level logical field name -> physical name (identity for
    fields without column-mapping metadata). THE one way to compute
    this map — duplicated ad-hoc zips invite drift."""
    return {
        lf.name: pf.name
        for lf, pf in zip(schema.fields, _physical_type(schema).fields)
    }


def _fields_missing_physical_name(schema: StructType) -> list[str]:
    """Names of fields (at any nesting level) lacking a physicalName."""
    from pyspark.sql.types import ArrayType, MapType

    missing: list[str] = []

    def walk(dt, path):
        if isinstance(dt, StructType):
            for f in dt.fields:
                p = f"{path}.{f.name}" if path else f.name
                if _PHYS_KEY not in f.metadata:
                    missing.append(p)
                walk(f.dataType, p)
        elif isinstance(dt, ArrayType):
            walk(dt.elementType, path + "[]")
        elif isinstance(dt, MapType):
            walk(dt.valueType, path + "{}")

    walk(schema, "")
    return missing


def _commit_versions(root: str) -> list[int]:
    log = Path(root) / DELTA_LOG_DIR
    out = []
    for p in log.glob("*.json"):
        stem = p.stem
        if stem.isdigit():
            out.append(int(stem))
    return sorted(out)


def _last_checkpoint(root: str) -> dict[str, Any] | None:
    p = Path(root) / DELTA_LOG_DIR / "_last_checkpoint"
    if not p.is_file():
        return None
    return json.loads(p.read_text())


class _State:
    """Accumulated table state from replaying actions in order."""

    def __init__(self) -> None:
        self.adds: dict[str, dict[str, Any]] = {}
        self.schema_json: str | None = None
        self.partition_columns: list[str] = []
        self.properties: dict[str, str] = {}
        self.protocol: dict[str, Any] = {}
        self.metadata_id: str | None = None
        # appId -> highest committed txn version (idempotent writers)
        self.txns: dict[str, int] = {}

    def copy(self) -> "_State":
        """A state that can take more actions without changing this one.
        ``apply`` mutates only ``adds`` and ``txns`` in place; every
        other field it replaces wholesale, so those are shared."""
        out = _State()
        out.__dict__.update(self.__dict__)
        out.adds = dict(self.adds)
        out.txns = dict(self.txns)
        return out

    def apply(self, action: dict[str, Any]) -> None:
        if "add" in action and action["add"] is not None:
            add = action["add"]
            self.adds[add["path"]] = add
        elif "remove" in action and action["remove"] is not None:
            self.adds.pop(action["remove"]["path"], None)
        elif "metaData" in action and action["metaData"] is not None:
            md = action["metaData"]
            self.schema_json = md["schemaString"]
            self.partition_columns = list(md.get("partitionColumns") or [])
            self.properties = dict(md.get("configuration") or {})
            if md.get("id"):
                self.metadata_id = md["id"]
        elif "protocol" in action and action["protocol"] is not None:
            self.protocol = action["protocol"]
        elif "txn" in action and action["txn"] is not None:
            t = action["txn"]
            if t.get("appId") is not None and t.get("version") is not None:
                self.txns[t["appId"]] = max(
                    int(t["version"]),
                    self.txns.get(t["appId"], -1),
                )

    @property
    def mapping_mode(self) -> str:
        # Column mapping predates reader features: a minReaderVersion=2
        # table advertises it only via the table property, so the
        # readerFeatures set alone must never gate it.
        return self.properties.get("delta.columnMapping.mode", "none")

    def check_readable(self) -> None:
        feats = set(self.protocol.get("readerFeatures") or [])
        unsupported = feats - _SUPPORTED_READER_FEATURES
        if unsupported:
            raise NotImplementedError(
                f"Delta reader features not supported: {sorted(unsupported)}"
            )
        if self.mapping_mode != "none":
            # Reads resolve parquet columns by each field's recorded
            # physicalName (valid for mode=name, and for mode=id files
            # whose writer stamped physical names — delta-spark always
            # does). A mapped field WITHOUT a physicalName cannot be
            # resolved safely — refuse loudly. Partitioned+mapped
            # works: partitionValues (and hive dirs) are keyed by the
            # PHYSICAL partition column names, which
            # ``phys_partition_map`` resolves.
            if self.schema_json is None:
                raise ValueError("column mapping advertised but no metaData")
            missing = _fields_missing_physical_name(
                StructType.fromJson(json.loads(self.schema_json))
            )
            if missing:
                raise NotImplementedError(
                    f"column mapping (mode={self.mapping_mode!r}) with no "
                    f"physicalName on fields {missing} — cannot resolve "
                    "parquet columns safely"
                )

    def phys_partition_map(self) -> dict[str, str]:
        """Logical partition column -> physical name (identity when
        unmapped). ``partitionValues`` keys and hive directory names
        use the PHYSICAL names on mapped tables."""
        if self.mapping_mode == "none" or self.schema_json is None:
            return {c: c for c in self.partition_columns}
        fields = {
            f["name"]: (f.get("metadata") or {}).get(_PHYS_KEY, f["name"])
            for f in json.loads(self.schema_json).get("fields", [])
        }
        return {c: fields.get(c, c) for c in self.partition_columns}


# Checkpoint columns the replay reads, each with the field that marks a
# row as carrying that action. `remove` rows are tombstones for VACUUM,
# not part of the active set, so they are never read.
_CHECKPOINT_ACTIONS = {
    "metaData": "schemaString",
    "protocol": "minReaderVersion",
    "add": "path",
    "txn": "appId",
    "sidecar": "path",
}


def _arrow_to_py(value: Any, typ: Any) -> Any:
    """A pyarrow ``to_pylist`` value with every map turned into a dict,
    recursively — the shape ``Row.asDict(recursive=True)`` gives."""
    import pyarrow as pa

    if value is None:
        return None
    if pa.types.is_map(typ):
        return {k: _arrow_to_py(v, typ.item_type) for k, v in value}
    if pa.types.is_struct(typ):
        return {
            f.name: _arrow_to_py(value[f.name], f.type)
            for f in (typ.field(i) for i in range(typ.num_fields))
        }
    if pa.types.is_list(typ) or pa.types.is_large_list(typ):
        return [_arrow_to_py(v, typ.value_type) for v in value]
    return value


def _fold_checkpoint_file(log: Path, path: Path, state: _State) -> None:
    """Apply the actions of one checkpoint parquet file, read
    driver-side and projected to the action columns it has. V2
    checkpoints move most file actions into sidecar files under
    ``_delta_log/_sidecars/``, named by `sidecar` rows: those are folded
    too, or the table would silently lose files."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(path)
    cols = [c for c in _CHECKPOINT_ACTIONS if c in pf.schema_arrow.names]
    table = pf.read(columns=cols)
    for name in cols:
        col = table.column(name)
        marker = _CHECKPOINT_ACTIONS[name]
        for v in col.to_pylist():
            if v is None or v.get(marker) is None:
                continue
            action = _arrow_to_py(v, col.type)
            if name == "sidecar":
                _fold_checkpoint_file(log, log / "_sidecars" / action["path"], state)
            else:
                state.apply({name: action})


def _replay_checkpoint(root: str, version: int, state: _State) -> None:
    """Fold a checkpoint (classic, multi-part or V2 with sidecars) into
    state. The parquet is read with pyarrow: every add row ends up in
    driver memory either way, so a Spark read would only add jobs."""
    log = Path(root) / DELTA_LOG_DIR
    parts = sorted(log.glob(f"{version:020d}.checkpoint*.parquet"))
    if not parts:
        raise FileNotFoundError(f"_last_checkpoint names v{version} but no parquet found")
    for p in parts:
        _fold_checkpoint_file(log, p, state)


# ---------------------------------------------------------------------------
# Snapshot cache (the design of Delta's Snapshot / DeltaLog.update())
#
# One entry per resolved table root holds the _State at the newest
# version read, plus the identity of the log segment it was built from:
# (name, size, mtime_ns, inode) of each checkpoint part and of each JSON
# commit after it. A read whose segment extends the cached one copies
# the cached state and applies only the new commits; any other segment
# (a recreated directory, a rewritten or new checkpoint, a changed
# file) replays from the checkpoint. Time travel below the cached
# version replays without touching the entry.
# ---------------------------------------------------------------------------

# Table roots kept; the least recently used is dropped beyond this.
_SNAPSHOT_CACHE_ROOTS = 16


class _Snapshot(NamedTuple):
    version: int
    segment: tuple[tuple[str, int, int, int], ...]
    state: _State


_snapshots: OrderedDict[str, _Snapshot] = OrderedDict()
_snapshots_lock = threading.Lock()


def _file_identity(p: Path) -> tuple[str, int, int, int]:
    st = p.stat()
    return (p.name, st.st_size, st.st_mtime_ns, st.st_ino)


def _commit_actions(root: str, version: int) -> list[dict[str, Any]]:
    """The actions of one JSON commit, in log order."""
    with open(Path(root) / DELTA_LOG_DIR / f"{version:020d}.json") as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _apply_commits(root: str, state: _State, first: int, last: int) -> None:
    for v in range(first, last + 1):
        for action in _commit_actions(root, v):
            state.apply(action)


def _replay(root: str, version: int | None) -> _State:
    """Table state at ``version`` (latest when None).

    Served from the process-wide snapshot cache: the cache key is the
    resolved root, the invalidation key the log segment's file
    identities (see above), so the checkpoint is read once per new
    checkpoint and each JSON commit once per new version. The returned
    state is shared with the cache and with other callers — treat it as
    read-only."""
    if version is not None and version < 0:
        raise ValueError(
            f"cannot read version {version} of {root}: table versions "
            "start at 0"
        )
    versions = _commit_versions(root)
    if not versions:
        raise ValueError(f"not a Delta table (no _delta_log commits): {root}")
    latest = versions[-1]
    if version is None:
        version = latest
    if version not in versions and version > latest:
        raise ValueError(f"version {version} not in log (latest {latest})")

    log = Path(root) / DELTA_LOG_DIR
    cp = _last_checkpoint(root)
    cp_version = cp["version"] if cp is not None and cp["version"] <= version else None
    if cp_version is None:
        # Time travel to a pre-checkpoint version replays from zero —
        # valid only while those JSON commits still exist.
        missing = [v for v in range(0, version + 1) if v not in versions]
        if missing:
            raise ValueError(
                f"cannot reconstruct v{version}: commits {missing} absent "
                "(vacuumed past the requested version)"
            )
        parts: list[Path] = []
        start = 0
    else:
        parts = sorted(log.glob(f"{cp_version:020d}.checkpoint*.parquet"))
        start = cp_version + 1
    segment = tuple(_file_identity(p) for p in parts) + tuple(
        _file_identity(log / f"{v:020d}.json") for v in range(start, version + 1)
    )

    key = str(Path(root).resolve())
    with _snapshots_lock:
        cached = _snapshots.get(key)
        if cached is not None:
            _snapshots.move_to_end(key)
    if cached is not None and segment[: len(cached.segment)] == cached.segment:
        if cached.version == version:
            return cached.state
        state = cached.state.copy()
        _apply_commits(root, state, cached.version + 1, version)
    else:
        state = _State()
        if cp_version is not None:
            _replay_checkpoint(root, cp_version, state)
        _apply_commits(root, state, start, version)
    state.check_readable()
    if state.schema_json is None:
        raise ValueError(f"no metaData action found in {root}")
    with _snapshots_lock:
        cur = _snapshots.get(key)
        # a read below the cached version must not evict it, unless it is
        # the latest version (then the cached entry is from a log that no
        # longer exists)
        if cur is None or version >= cur.version or version == latest:
            _snapshots[key] = _Snapshot(version, segment, state)
            _snapshots.move_to_end(key)
            while len(_snapshots) > _SNAPSHOT_CACHE_ROOTS:
                _snapshots.popitem(last=False)
    return state


def change_versions(
    root: str, start: int, end: int | None = None
) -> list[int]:
    """The commit versions in ``[start, end]`` (``end`` None: through
    the latest) whose changes a change-data-feed read serves. A range
    that ends before it starts, or starts below the oldest commit still
    in the log, is refused: the changes of vacuumed commits are gone,
    and serving the rest would return a partial feed as if whole."""
    if end is not None and end < start:
        raise ValueError(
            f"CDF range v{start}..v{end}: the ending version is before "
            "the starting version"
        )
    versions = _commit_versions(root)
    if versions and start < versions[0]:
        raise ValueError(
            f"CDF from v{start}: commits before v{versions[0]} are no "
            "longer in the log (vacuumed)"
        )
    return [v for v in versions if v >= start and (end is None or v <= end)]


def change_files(
    root: str, version: int
) -> tuple[list[dict[str, Any]], str | None]:
    """The files that carry ``version``'s change data feed, as the
    Delta CDF protocol places them in its commit, and the
    ``_change_type`` their rows take (None: the files carry their own):
    the commit's ``cdc`` files when it has any, else its ``add`` actions
    with ``dataChange`` set, as ``insert``. A commit that removed data
    or attached a deletion vector without ``cdc`` actions has no
    row-level delta in the log: it is refused, naming the version."""
    cdcs, adds, removed = [], [], False
    for a in _commit_actions(root, version):
        if a.get("cdc") is not None:
            cdcs.append(a["cdc"])
        elif a.get("add") is not None and a["add"].get("dataChange", True):
            adds.append(a["add"])
        elif a.get("remove") is not None and a["remove"].get("dataChange", True):
            removed = True
    if cdcs:
        return cdcs, None
    if removed or any(e.get("deletionVector") for e in adds):
        raise NotImplementedError(
            f"CDF for version {version}: the commit rewrote files "
            "without cdc actions (change data feed was off at write "
            "time); its row-level changes are not in the _delta_log"
        )
    return adds, "insert"
