"""The commit log of every ``LakeTable``: the open Delta Lake format.

``DeltaLogBackend`` is the one log backend ``LakeTable`` writes
through. It persists every commit as a real ``_delta_log`` entry
following the public Delta protocol:

* one ``{version:020d}.json`` per commit holding newline-delimited
  ``commitInfo`` / ``protocol`` / ``metaData`` / ``txn`` / ``add`` /
  ``remove`` actions;
* per-file stats carried in the add action's ``stats`` JSON string
  (``numRecords`` / ``minValues`` / ``maxValues`` / ``nullCount``) so
  other Delta readers get data skipping, and translated back into the
  engine's footer-stats shape on read;
* a classic parquet checkpoint + ``_last_checkpoint`` every
  ``CHECKPOINT_INTERVAL`` commits (written with pyarrow using the
  protocol's map-typed ``partitionValues``/``configuration`` fields),
  each published whole: the parquet through ``log.publish_new`` and
  ``_last_checkpoint`` through a temp file and ``os.replace``;
* the same put-if-absent optimistic concurrency Delta itself relies
  on for object-store commits, published whole (``log.publish_new``:
  temp file, then a hard link to ``<version>.json``).

The reference stack keeps every Silver/Gold table in Delta format and
MERGEs into them in place (``/root/reference/src/silver/
transform_customers.py:166-204``, ``config/pipeline_config.py:32-60``),
so a migrating user's tables stay readable by their existing Delta
tooling while this engine appends/MERGEs/deletes through its own
DataFrame machinery.

Snapshot state (active files, schema, properties) is resolved through
``delta_interop._replay``, the protocol module's log replay, so every
write is round-tripped through the public protocol, never through
private state. That replay is served from a process-wide snapshot
cache keyed by the table root: a call re-lists ``_delta_log`` and
``stat``s the log segment (checkpoint parts plus the JSON commits after
them); when the cached segment is a prefix of the current one, only the
new commits are applied, and any other change — a recreated directory,
a new or rewritten checkpoint, a changed commit file — replays from the
checkpoint. Write-back covers every readable SHAPE — partitioned tables
(hive-style layout, ``partitionValues``-stamped adds), column-mapped
tables (physical-named parquet + preserved mapping metadata), live
deletion vectors — and honors writer OBLIGATIONS: CHECK constraints /
invariants are enforced on new rows, generated columns recomputed,
``delta.appendOnly`` enforced at commit time. ``commit`` refuses, on
the state it replays anyway, every write to a table declaring what the
engine cannot honor (nested identity or generation expressions,
unknown v7 writerFeatures); such tables stay readable ``LakeTable``s.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
import warnings
from pathlib import Path
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql.types import StructField, StructType

from . import delta_interop as di
from .delta_interop import (
    merge_schema_metadata as _merge_field_metadata,
    strip_schema_metadata as _strip_schema_metadata,
)
from .log import publish_new

DATA_DIR = "data"
LOG_DIR = di.DELTA_LOG_DIR

CHECKPOINT_INTERVAL = 10

_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}

# v7 writerFeatures this engine actually implements. The protocol
# obliges a writer to HONOR every active feature, so a commit to a
# table declaring anything outside this set is refused (reads still
# work). appendOnly is enforced at commit time; invariants /
# generatedColumns / identityColumns / checkConstraints are accepted
# as FEATURES only while the table defines no such expression —
# _check_writable scans the schema metadata for actual use.
_SUPPORTED_WRITER_FEATURES = {
    "appendOnly",
    "invariants",
    "checkConstraints",
    "generatedColumns",
    "identityColumns",
    "changeDataFeed",
    "columnMapping",
    "deletionVectors",
    "timestampNtz",
}

# field-metadata keys that carry expressions this writer cannot
# evaluate; their PRESENCE (not the feature flag) gates write-back.
# NOT here: delta.invariants (boolean SQL, enforced at write time in
# LakeTable._enforce_constraints) and TOP-LEVEL
# delta.generationExpression (Spark SQL the engine recomputes on every
# write in LakeTable._prep_write). Identity columns need monotonic
# allocation state; nested generation expressions cannot reference
# their siblings portably — both refuse.
_OBLIGATION_META_KEYS = (
    "delta.identity.start",
    "delta.identity.step",
    "delta.identity.allowExplicitInsert",
)


def _fields_with_writer_obligations(schema) -> list[str]:
    """Names of fields whose metadata declares an obligation this
    writer cannot honor: identity BELOW the top level, generation
    expressions below the top level. Top-level identity columns are
    honored (value generation + highWaterMark tracking in
    ``LakeTable.append``), like top-level generated columns."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    hits: list[str] = []

    def walk(dt, path, top):
        if isinstance(dt, StructType):
            for f in dt.fields:
                p = f"{path}.{f.name}" if path else f.name
                if not top and any(
                    k in f.metadata for k in _OBLIGATION_META_KEYS
                ):
                    hits.append(p)
                elif not top and "delta.generationExpression" in f.metadata:
                    hits.append(p)
                walk(f.dataType, p, False)
        elif isinstance(dt, ArrayType):
            walk(dt.elementType, path + "[]", False)
        elif isinstance(dt, MapType):
            walk(dt.valueType, path + "{}", False)

    walk(schema, "", True)
    return hits


def _check_writable(state: di._State, operation: str) -> None:
    """Refuse a commit to a table declaring a WRITER obligation the
    engine cannot honor — the protocol requires a writer to implement
    every active writerFeature, not just to read the data correctly.
    Refused are nested generated / identity column expressions and any
    v7 writerFeature outside the supported set. CHECK constraints and
    column invariants are ENFORCED at write time instead
    (``LakeTable._enforce_constraints``), ``delta.appendOnly`` by
    ``commit`` (data-changing removes refused)."""
    if state.schema_json:
        offenders = _fields_with_writer_obligations(
            StructType.fromJson(json.loads(state.schema_json))
        )
        if offenders:
            raise NotImplementedError(
                f"{operation} refused: the table declares nested "
                f"identity/generation expressions on {offenders}, which "
                "this writer cannot evaluate (the table stays readable)"
            )
    unsupported = set(state.protocol.get("writerFeatures") or []) - (
        _SUPPORTED_WRITER_FEATURES
    )
    if unsupported:
        raise NotImplementedError(
            f"{operation} refused: Delta writer features not supported: "
            f"{sorted(unsupported)} (a writer must honor every declared "
            "writer feature; the table stays readable)"
        )


def _assign_mapping(dt, next_id: int):
    """Fresh columnMapping metadata (sequential id + ``col-<uuid>``
    physicalName, the delta-spark scheme) for every field, recursively.
    Returns (typed value, next unused id)."""
    from pyspark.sql.types import ArrayType, MapType

    if isinstance(dt, StructType):
        out = []
        for f in dt.fields:
            meta = dict(f.metadata)
            meta["delta.columnMapping.id"] = next_id
            meta["delta.columnMapping.physicalName"] = f"col-{uuid.uuid4()}"
            next_id += 1
            inner, next_id = _assign_mapping(f.dataType, next_id)
            out.append(StructField(f.name, inner, f.nullable, meta))
        return StructType(out), next_id
    if isinstance(dt, ArrayType):
        inner, next_id = _assign_mapping(dt.elementType, next_id)
        return type(dt)(inner, dt.containsNull), next_id
    if isinstance(dt, MapType):
        kt, next_id = _assign_mapping(dt.keyType, next_id)
        vt, next_id = _assign_mapping(dt.valueType, next_id)
        return type(dt)(kt, vt, dt.valueContainsNull), next_id
    return dt, next_id


def assign_mapping_metadata(schema: StructType) -> tuple[StructType, int]:
    """Mapping metadata for EVERY field of a brand-new mapped table
    (create path; ids start at 1 like delta-spark). Returns the mapped
    schema and the maxColumnId to record."""
    mapped, next_id = _assign_mapping(schema, 1)
    return mapped, next_id - 1


def _stats_to_delta(entry: dict[str, Any]) -> str:
    """Engine add-entry stats -> Delta per-file stats JSON string.
    Partition columns are excluded — Delta skips those via
    ``partitionValues``; their synthesized engine-side point intervals
    are not per-file parquet stats."""
    mins, maxs, nulls = {}, {}, {}
    pcols = set(entry.get("partitionValues") or {})
    for col, st in (entry.get("stats") or {}).items():
        if col in pcols:
            continue
        if st.get("min") is not None:
            mins[col] = st["min"]
        if st.get("max") is not None:
            maxs[col] = st["max"]
        nulls[col] = st.get("nulls", 0)
    return json.dumps(
        {
            "numRecords": entry.get("rows", 0),
            "minValues": mins,
            "maxValues": maxs,
            "nullCount": nulls,
        }
    )


def _top_level_phys_map(schema_json: str) -> dict[str, str]:
    """Top-level logical name -> physicalName map from a Delta
    schemaString (identity for fields without mapping metadata).
    Per-file stats are flat (top-level columns only), so nested
    renames never appear in stats keys."""
    parsed = json.loads(schema_json)
    out: dict[str, str] = {}
    for f in parsed.get("fields", []):
        meta = f.get("metadata") or {}
        out[f["name"]] = meta.get(
            "delta.columnMapping.physicalName", f["name"]
        )
    return out


def _stats_from_delta(add: dict[str, Any]) -> dict[str, Any]:
    """Delta add action -> engine entry (path/rows/bytes/stats)."""
    rows = 0
    cols: dict[str, dict[str, Any]] = {}
    raw = add.get("stats")
    if raw:
        try:
            parsed = json.loads(raw) if isinstance(raw, str) else raw
            rows = parsed.get("numRecords", 0) or 0
            mins = parsed.get("minValues") or {}
            maxs = parsed.get("maxValues") or {}
            nulls = parsed.get("nullCount") or {}
            for col in set(mins) | set(maxs) | set(nulls):
                cols[col] = {
                    "min": mins.get(col),
                    "max": maxs.get(col),
                    "nulls": nulls.get(col, 0),
                }
        except (ValueError, AttributeError):
            pass  # unparseable stats: keep the file, no pruning
    out = {
        "path": add["path"],
        "rows": rows,
        "bytes": add.get("size", 0),
        "stats": cols,
    }
    if add.get("deletionVector"):
        out["deletionVector"] = add["deletionVector"]
    if add.get("partitionValues"):
        out["partitionValues"] = dict(add["partitionValues"])
        di.synth_partition_stats(out)
    return out


class DeltaLogBackend:
    """Reads and writes a table's ``_delta_log``; stateless apart from
    the process-wide snapshot cache behind ``delta_interop._replay``."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    # -- layout / discovery ------------------------------------------------

    def ensure_layout(self, root: str) -> None:
        (Path(root) / LOG_DIR).mkdir(parents=True, exist_ok=True)
        (Path(root) / DATA_DIR).mkdir(parents=True, exist_ok=True)

    def data_dir(self, root: str) -> Path:
        return Path(root) / DATA_DIR

    def list_versions(self, root: str) -> list[int]:
        return di._commit_versions(root)

    def latest_version(self, root: str) -> int | None:
        versions = self.list_versions(root)
        return versions[-1] if versions else None

    # -- snapshot state (via the cached replay path) ------------------------

    def _state(self, root: str, version: int | None = None) -> di._State:
        return di._replay(root, version)

    def partition_columns(
        self, root: str, version: int | None = None
    ) -> list[str]:
        return list(self._state(root, version).partition_columns)

    def evolve_mapped_schema(
        self, root: str, new_schema: StructType
    ) -> tuple[StructType, dict[str, Any]]:
        """Additive schema evolution on a column-mapped table: every
        existing field must survive unchanged (same order, names,
        types), and each NET-NEW trailing field is assigned fresh
        columnMapping metadata — the next id (recursively for nested
        fields of a new column, per the protocol) and a ``col-<uuid>``
        physicalName, the same scheme delta-spark uses. Returns the
        merged schema plus the table properties with
        ``delta.columnMapping.maxColumnId`` advanced. Renames, drops,
        and type changes are refused — they need mapping-aware
        migration logic this engine does not implement."""
        state = self._state(root)
        assert state.schema_json is not None
        cur = StructType.fromJson(json.loads(state.schema_json))
        if [f.name for f in new_schema.fields[: len(cur.fields)]] != [
            f.name for f in cur.fields
        ] or _strip_schema_metadata(
            StructType(new_schema.fields[: len(cur.fields)]).json()
        ) != _strip_schema_metadata(cur.json()):
            raise NotImplementedError(
                "column-mapped schema evolution supports only appending "
                "new trailing columns (no renames/drops/type changes)"
            )

        def max_id(dt) -> int:
            from pyspark.sql.types import ArrayType, MapType

            if isinstance(dt, StructType):
                ids = [
                    int(f.metadata.get("delta.columnMapping.id", 0))
                    for f in dt.fields
                ]
                ids += [max_id(f.dataType) for f in dt.fields]
                return max(ids, default=0)
            if isinstance(dt, ArrayType):
                return max_id(dt.elementType)
            if isinstance(dt, MapType):
                return max(max_id(dt.keyType), max_id(dt.valueType))
            return 0

        next_id = (
            max(
                int(
                    state.properties.get("delta.columnMapping.maxColumnId", 0)
                ),
                max_id(cur),
            )
            + 1
        )

        new_tail_struct, next_id = _assign_mapping(
            StructType(new_schema.fields[len(cur.fields):]), next_id
        )
        new_tail = new_tail_struct.fields
        merged = StructType(list(cur.fields) + list(new_tail))
        props = dict(state.properties)
        props["delta.columnMapping.maxColumnId"] = str(next_id - 1)
        return merged, props

    def _alter_guard(self, root: str, col: str):
        """Shared validation for rename/drop on a mapped table: column
        mapping must be on (same requirement real Delta enforces — the
        whole point of mapping is that logical names are indirections
        over stable physicalNames, so metadata-only renames/drops are
        safe), the column must be a top-level field, not a partition
        column, and not referenced by a CHECK constraint or another
        column's generation expression (altering it would silently
        break those SQL strings for every later writer)."""
        state = self._state(root)
        if state.mapping_mode == "none":
            raise NotImplementedError(
                "RENAME/DROP COLUMN requires column mapping "
                "(delta.columnMapping.mode=name|id): without it the "
                "logical name IS the parquet column and a rename would "
                "orphan every existing file"
            )
        assert state.schema_json is not None
        schema = StructType.fromJson(json.loads(state.schema_json))
        if col not in schema.fieldNames():
            raise ValueError(f"no such column: {col!r}")
        if col in state.partition_columns:
            raise NotImplementedError(
                f"{col!r} is a partition column; altering it would "
                "change the table layout"
            )
        ref = re.compile(rf"\b{re.escape(col)}\b", re.IGNORECASE)
        for k, expr in state.properties.items():
            if k.startswith("delta.constraints.") and ref.search(str(expr)):
                raise ValueError(
                    f"column {col!r} is referenced by CHECK constraint "
                    f"{k[len('delta.constraints.'):]!r}; drop the "
                    "constraint first"
                )
        for f in schema.fields:
            gen = f.metadata.get("delta.generationExpression")
            if f.name != col and gen and ref.search(str(gen)):
                raise ValueError(
                    f"column {col!r} is referenced by the generation "
                    f"expression of {f.name!r}"
                )
        return state, schema

    def rename_column(self, root: str, old: str, new: str) -> int:
        """Metadata-only RENAME COLUMN (reference evolution surface
        ``delta_lake_features.py:182-262``): the logical name changes
        in the schemaString, the columnMapping id and physicalName stay
        — no data file is touched, and every existing parquet file
        (written under the physicalName) remains readable, including
        via time travel to pre-rename versions."""
        state, schema = self._alter_guard(root, old)
        if new in schema.fieldNames():
            raise ValueError(f"column {new!r} already exists")
        fields = [
            StructField(new, f.dataType, f.nullable, dict(f.metadata))
            if f.name == old
            else f
            for f in schema.fields
        ]
        return self.commit(
            root,
            "RENAME COLUMN",
            [],
            [],
            StructType(fields).json(),
            parameters={"oldColumnPath": old, "newColumnPath": new},
        )

    def drop_column(self, root: str, col: str) -> int:
        """Metadata-only DROP COLUMN: the logical field leaves the
        schemaString; the physical column stays in existing files and
        is simply never projected again (and keeps serving pre-drop
        versions under time travel). The columnMapping maxColumnId is
        NOT reclaimed, so a later re-add of the same logical name gets
        a fresh id/physicalName and never resurrects old data."""
        state, schema = self._alter_guard(root, col)
        if len(schema.fields) == 1:
            raise ValueError("cannot drop the only column")
        fields = [f for f in schema.fields if f.name != col]
        return self.commit(
            root,
            "DROP COLUMNS",
            [],
            [],
            StructType(fields).json(),
            parameters={"columns": [col]},
        )

    def mapping_mode(self, root: str) -> str:
        return self._state(root).mapping_mode

    def active_files(
        self, root: str, up_to: int | None = None
    ) -> list[dict[str, Any]]:
        state = self._state(root, up_to)
        entries = [_stats_from_delta(a) for a in state.adds.values()]
        if state.mapping_mode != "none" and state.schema_json:
            # protocol-side stats are keyed by PHYSICAL column names on
            # mapped tables; the engine plans/prunes in logical names
            phys_to_log = {
                p: l for l, p in _top_level_phys_map(state.schema_json).items()
            }
            for e in entries:
                e["stats"] = {
                    phys_to_log.get(k, k): v
                    for k, v in (e.get("stats") or {}).items()
                }
        return entries

    def schema_at(self, root: str, version: int | None = None) -> str:
        state = self._state(root, version)
        if state.schema_json is None:
            raise ValueError(f"no metaData action in {root}")
        return state.schema_json

    def table_properties(
        self, root: str, version: int | None = None
    ) -> dict[str, Any]:
        return dict(self._state(root, version).properties)

    def referenced_files_all_versions(self, root: str) -> set[str]:
        refs: set[str] = set()
        log = Path(root) / LOG_DIR
        for v in self.list_versions(root):
            with open(log / f"{v:020d}.json") as fh:
                for line in fh:
                    line = line.strip()
                    if not line:
                        continue
                    a = json.loads(line)
                    if a.get("add"):
                        refs.add(a["add"]["path"])
        return refs

    def referenced_dv_files(self, root: str) -> set[Path]:
        """Deletion-vector sidecar files referenced by ANY version's add
        actions (JSON commits are never deleted, so this covers time
        travel) — the keep-set for VACUUMing orphaned DV bins."""
        refs: set[Path] = set()
        log = Path(root) / LOG_DIR
        for v in self.list_versions(root):
            with open(log / f"{v:020d}.json") as fh:
                for line in fh:
                    line = line.strip()
                    if not line:
                        continue
                    a = json.loads(line)
                    dv = (a.get("add") or {}).get("deletionVector")
                    if dv:
                        p = di.dv_file_path(root, dv)
                        if p is not None:
                            refs.add(p.resolve())
        return refs

    # -- commit log in engine shape ---------------------------------------

    def read_commit(self, root: str, version: int) -> dict[str, Any]:
        """One Delta JSON commit translated to the engine commit shape
        (history / txn tracking / time travel consume this)."""
        out: dict[str, Any] = {
            "version": version,
            "timestamp_ms": None,
            "operation": None,
            "operationParameters": {},
            "operationMetrics": {},
            "add": [],
            "remove": [],
            "cdc": [],
            "schema": None,
            "properties": {},
        }
        with open(Path(root) / LOG_DIR / f"{version:020d}.json") as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                a = json.loads(line)
                if a.get("commitInfo"):
                    ci = a["commitInfo"]
                    out["operation"] = ci.get("operation")
                    out["timestamp_ms"] = ci.get("timestamp")
                    out["operationParameters"] = ci.get(
                        "operationParameters", {}
                    )
                    out["operationMetrics"] = ci.get("operationMetrics", {})
                elif a.get("add"):
                    out["add"].append(_stats_from_delta(a["add"]))
                elif a.get("remove"):
                    out["remove"].append(a["remove"]["path"])
                elif a.get("cdc"):
                    out["cdc"].append(a["cdc"])
                elif a.get("metaData"):
                    out["schema"] = a["metaData"].get("schemaString")
                    out["properties"] = dict(
                        a["metaData"].get("configuration") or {}
                    )
                elif a.get("txn"):
                    out["operationParameters"] = dict(
                        out["operationParameters"]
                    )
                    out["operationParameters"]["txn"] = {
                        "appId": a["txn"]["appId"],
                        "version": a["txn"]["version"],
                    }
        return out

    def read_log(
        self, root: str, up_to: int | None = None
    ) -> list[dict[str, Any]]:
        # JSON commits are never deleted, so the full translated log is
        # always reconstructible
        return [
            self.read_commit(root, v)
            for v in self.list_versions(root)
            if up_to is None or v <= up_to
        ]

    def txn_version(self, root: str, app_id: str) -> int:
        """Highest committed ``txn`` version for ``app_id``, or -1."""
        return self._state(root).txns.get(app_id, -1)

    def latest_checkpoint(
        self, root: str, up_to: int | None = None
    ) -> dict[str, Any] | None:
        """The newest checkpoint at or before ``up_to`` with its txn
        watermarks, read from the parquet's txn column alone. The
        benchmark tracer (``perfbench/trace.py``) wraps this method by
        name and is its only caller."""
        cp = di._last_checkpoint(root)
        if cp is None or (up_to is not None and cp["version"] > up_to):
            return None
        import pyarrow.parquet as papq

        log = Path(root) / LOG_DIR
        txns: dict[str, int] = {}
        for p in sorted(
            log.glob(f"{cp['version']:020d}.checkpoint*.parquet")
        ):
            names = [f.name for f in papq.read_schema(p)]
            if "txn" not in names:
                continue
            for row in papq.read_table(p, columns=["txn"]).to_pylist():
                t = row.get("txn")
                if t and t.get("appId") is not None:
                    txns[t["appId"]] = max(
                        int(t["version"]), txns.get(t["appId"], -1)
                    )
        return {"version": cp["version"], "txns": txns}

    def version_at_timestamp(self, root: str, ts_ms: int) -> int:
        best = None
        for c in self.read_log(root):
            if c["timestamp_ms"] is not None and c["timestamp_ms"] <= ts_ms:
                best = c["version"]
        if best is None:
            raise ValueError(
                f"no commit at or before timestamp {ts_ms} in {root}"
            )
        return best

    # -- writes ------------------------------------------------------------

    def commit(
        self,
        root: str,
        operation: str,
        add: list[dict[str, Any]],
        remove: list[str],
        schema_json: str,
        parameters: dict[str, Any] | None = None,
        metrics: dict[str, Any] | None = None,
        properties: dict[str, Any] | None = None,
        max_retries: int = 20,
        partition_columns: list[str] | None = None,
        expected_version: int | None = None,
        schema_authoritative: bool = False,
        cdc: list[dict[str, Any]] | None = None,
    ) -> int:
        parameters = parameters or {}
        now = int(time.time() * 1000)
        # physical-layout-only rewrites: logical data is unchanged, so
        # CDF readers (ours and foreign) must see no changes and the
        # delta.appendOnly gate must stay legal
        data_change = operation not in ("OPTIMIZE", "REORG")
        # ONE state replay serves the whole commit (appendOnly gate,
        # mapping checks, metaData emission, protocol upgrade) — the
        # previous shape replayed the log ~5x per write; refreshed only
        # when an OCC race is actually lost
        state0 = (
            self._state(root)
            if self.latest_version(root) is not None
            else None
        )
        if state0 is not None:
            _check_writable(state0, operation)
        if remove and data_change and state0 is not None:
            # delta.appendOnly forbids data-changing removes; OPTIMIZE
            # (dataChange=false) stays legal. Enforced here — the one
            # choke point every DELETE/UPDATE/MERGE/overwrite crosses.
            if str(
                state0.properties.get("delta.appendOnly", "false")
            ).lower() in ("true", "1"):
                raise ValueError(
                    f"{operation} on an append-only table "
                    "(delta.appendOnly=true) would remove data files"
                )
        # the caller's schema_json usually comes from DataFrame.schema,
        # which carries NO field metadata. Emitting it over the current
        # schemaString would silently strip whatever metadata the table
        # declares — columnMapping ids/physicalNames (corrupting reads),
        # invariants (disabling enforcement for every later writer),
        # comments. So: structurally-unchanged schema -> keep the
        # CURRENT schemaString verbatim; genuine evolution -> merge
        # each surviving field's existing metadata into the incoming
        # schema (mapped tables additionally demand full mapping
        # metadata on every field, assigned by evolve_mapped_schema).
        # Stats keys are translated logical->physical to match the
        # protocol's convention on mapped tables.
        log_to_phys: dict[str, str] = {}
        if state0 is not None and state0.schema_json:
            if schema_authoritative:
                # caller hands a deliberately metadata-bearing schema
                # (identity highWaterMark advance, rename/drop) — emit
                # verbatim, never "preserve" the stale current one
                pass
            elif _strip_schema_metadata(schema_json) == (
                _strip_schema_metadata(state0.schema_json)
            ):
                schema_json = state0.schema_json
            elif state0.mapping_mode != "none":
                if di._fields_missing_physical_name(
                    StructType.fromJson(json.loads(schema_json))
                ):
                    raise NotImplementedError(
                        "schema change on a column-mapped table needs "
                        "columnMapping ids/physicalNames on every field "
                        "— evolve via append(..., merge_schema=True), "
                        "which assigns them (evolve_mapped_schema)"
                    )
                # else: a fully-mapped evolved schema from
                # evolve_mapped_schema — emit as-is
            else:
                schema_json = _merge_field_metadata(
                    state0.schema_json, schema_json
                )
            if state0.mapping_mode != "none":
                log_to_phys = {
                    l: p
                    for l, p in _top_level_phys_map(
                        state0.schema_json
                    ).items()
                    if l != p
                }
        if log_to_phys:
            add = [
                {
                    **e,
                    "stats": {
                        log_to_phys.get(k, k): v
                        for k, v in (e.get("stats") or {}).items()
                    },
                }
                for e in add
            ]
        planned_prev = (
            expected_version
            if expected_version is not None
            else self.latest_version(root)
        )
        props_guard = properties is not None and expected_version is not None
        for _ in range(max_retries):
            prev = self.latest_version(root)
            if (
                remove or schema_authoritative or props_guard
            ) and prev != planned_prev:
                # lost a race with removes in hand: our add/remove plan
                # came from a stale snapshot. Conflict iff an
                # intervening commit TOUCHED a file we plan to remove
                # (their DV re-add/rewrite would be silently undone) or
                # changed table METADATA (schema evolution / property
                # flips like delta.appendOnly that this commit's gates
                # validated pre-race). Disjoint-file activity — the
                # streaming-append-during-DELETE case — proceeds, like
                # Delta's WriteSerializable.
                from .log import ConcurrentModificationError

                ours = set(remove)
                lo = -1 if planned_prev is None else planned_prev
                for v in self.list_versions(root):
                    if v <= lo:
                        continue
                    c = self.read_commit(root, v)
                    theirs = {a["path"] for a in c.get("add", [])} | set(
                        c.get("remove", [])
                    )
                    if theirs & ours or c.get("schema") is not None:
                        why = (
                            "changed table metadata"
                            if not (theirs & ours)
                            else f"touched {sorted(theirs & ours)[:3]}"
                        )
                        raise ConcurrentModificationError(
                            f"{operation} planned at v{planned_prev} "
                            f"conflicts with concurrent v{v} "
                            f"({c.get('operation')}, {why}); recompute "
                            "and retry"
                        )
                planned_prev = prev  # disjoint files, same metadata
                state0 = self._state(root)  # refresh after the race
                _check_writable(state0, operation)
            version = 0 if prev is None else prev + 1
            lines: list[dict[str, Any]] = []
            ci_params = {
                k: v for k, v in parameters.items() if k != "txn"
            }
            lines.append(
                {
                    "commitInfo": {
                        "timestamp": now,
                        "operation": operation,
                        "operationParameters": ci_params,
                        "operationMetrics": metrics or {},
                        "engineInfo": "databricks_delta_lake_project_spark",
                    }
                }
            )
            if version == 0:
                if str(
                    (properties or {}).get("delta.columnMapping.mode", "none")
                ).lower() in ("name", "id"):
                    # mapped tables need the legacy mapping-capable
                    # protocol (reader 2 / writer 5) so external Delta
                    # readers honor physicalNames
                    lines.append(
                        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}}
                    )
                else:
                    lines.append({"protocol": dict(_PROTOCOL)})
            txn = parameters.get("txn")
            if txn:
                lines.append(
                    {
                        "txn": {
                            "appId": txn["appId"],
                            "version": int(txn["version"]),
                            "lastUpdated": now,
                        }
                    }
                )
            schema_changed = (
                state0 is None
                or state0.schema_json is None
                or json.loads(state0.schema_json) != json.loads(schema_json)
            )
            # `properties is not None` (not truthiness): unsetting the
            # LAST property passes {} and must still emit metaData,
            # else the old configuration survives the replay
            if version == 0 or properties is not None or schema_changed:
                config = {
                    k: str(v) for k, v in (properties or {}).items()
                }
                # preserve the current configuration only when the
                # caller passed NO properties (schema-change-only
                # commits); an explicit {} means "empty" — the
                # unset-last-property snapshot
                if version > 0 and properties is None and state0 is not None:
                    config = {
                        k: str(v) for k, v in state0.properties.items()
                    }
                # a re-emitted metaData action (schema evolution,
                # property change) must preserve the table's
                # partitioning — dropping it would silently flip the
                # table unpartitioned for every later reader
                pcols = (
                    list(partition_columns or [])
                    if version == 0
                    else list(state0.partition_columns)
                )
                table_id = (
                    (state0.metadata_id if state0 is not None else None)
                    or str(uuid.uuid4())
                )
                lines.append(
                    {
                        "metaData": {
                            "id": table_id,
                            "format": {"provider": "parquet", "options": {}},
                            "schemaString": schema_json,
                            "partitionColumns": pcols,
                            "configuration": config,
                            "createdTime": now,
                        }
                    }
                )
            for p in remove:
                lines.append(
                    {
                        "remove": {
                            "path": p,
                            "deletionTimestamp": now,
                            "dataChange": data_change,
                        }
                    }
                )
            for e in add:
                action = {
                    "path": e["path"],
                    "partitionValues": dict(e.get("partitionValues") or {}),
                    "size": e.get("bytes", 0),
                    "modificationTime": now,
                    "dataChange": data_change,
                    "stats": _stats_to_delta(e),
                }
                if e.get("deletionVector"):
                    action["deletionVector"] = e["deletionVector"]
                lines.append({"add": action})
            for c in cdc or []:
                # protocol CDF: _change_data files holding this
                # commit's row-level deltas; readers use them
                # EXCLUSIVELY for this version
                lines.append(
                    {
                        "cdc": {
                            "path": c["path"],
                            "partitionValues": dict(
                                c.get("partitionValues") or {}
                            ),
                            "size": c.get("size", c.get("bytes", 0)),
                            "dataChange": False,
                        }
                    }
                )
            if any(e.get("deletionVector") for e in add):
                # DV adds require the deletionVectors table feature —
                # upgrade the protocol action in the same commit if the
                # table does not advertise it yet. Upgrading a LEGACY
                # protocol to v3/v7 must carry the features the old
                # version numbers implied (a v2 reader version implies
                # columnMapping when the table property is set —
                # dropping it would tell foreign readers mapping is
                # off).
                cur = {} if state0 is None else state0.protocol
                feats = set(cur.get("readerFeatures") or [])
                wfeats = set(cur.get("writerFeatures") or [])
                if state0 is not None and state0.mapping_mode != "none":
                    feats.add("columnMapping")
                    wfeats.add("columnMapping")
                if "deletionVectors" not in feats:
                    lines.insert(
                        1,
                        {
                            "protocol": {
                                "minReaderVersion": 3,
                                "minWriterVersion": 7,
                                "readerFeatures": sorted(
                                    feats | {"deletionVectors"}
                                ),
                                "writerFeatures": sorted(
                                    wfeats | {"deletionVectors"}
                                ),
                            }
                        },
                    )
            path = Path(root) / LOG_DIR / f"{version:020d}.json"
            path.parent.mkdir(parents=True, exist_ok=True)
            body = "\n".join(json.dumps(l) for l in lines) + "\n"
            if not publish_new(path, body):
                continue  # lost the race: recompute version and retry
            if version > 0 and version % CHECKPOINT_INTERVAL == 0:
                try:
                    self._write_checkpoint(root, version)
                except Exception as e:  # noqa: BLE001
                    # the commit has landed; raising would make the
                    # caller undo a write that is already visible. A
                    # checkpoint only shortens replay: readers keep the
                    # previous one and the next interval writes anew
                    warnings.warn(
                        f"checkpoint v{version} of {root} not written: {e!r}"
                    )
            return version
        raise RuntimeError(
            f"commit conflict: lost {max_retries} races on {root}"
        )

    def _write_checkpoint(self, root: str, version: int) -> None:
        """Classic parquet checkpoint (one action per row) +
        ``_last_checkpoint``, written driver-side with pyarrow so the
        protocol's map-typed fields are genuine parquet maps. Both
        appear whole or not at all, parquet first: ``_last_checkpoint``
        never names a checkpoint that is missing or torn."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        state = self._state(root, version)
        n = len(state.adds)
        meta_struct = pa.struct(
            [
                ("id", pa.string()),
                ("format", pa.struct([("provider", pa.string())])),
                ("schemaString", pa.string()),
                ("partitionColumns", pa.list_(pa.string())),
                ("configuration", pa.map_(pa.string(), pa.string())),
                ("createdTime", pa.int64()),
            ]
        )
        dv_struct = pa.struct(
            [
                ("storageType", pa.string()),
                ("pathOrInlineDv", pa.string()),
                ("offset", pa.int32()),
                ("sizeInBytes", pa.int32()),
                ("cardinality", pa.int64()),
            ]
        )
        add_struct = pa.struct(
            [
                ("path", pa.string()),
                ("partitionValues", pa.map_(pa.string(), pa.string())),
                ("size", pa.int64()),
                ("modificationTime", pa.int64()),
                ("dataChange", pa.bool_()),
                ("stats", pa.string()),
                # dropping a live DV descriptor here would resurrect
                # its deleted rows for every checkpoint-seeded reader
                ("deletionVector", dv_struct),
            ]
        )
        proto_struct = pa.struct(
            [
                ("minReaderVersion", pa.int32()),
                ("minWriterVersion", pa.int32()),
                # dropping the feature lists would write an invalid
                # v3/v7 protocol row — foreign readers seeded from the
                # checkpoint would lose e.g. the deletionVectors
                # declaration
                ("readerFeatures", pa.list_(pa.string())),
                ("writerFeatures", pa.list_(pa.string())),
            ]
        )
        txn_struct = pa.struct(
            [
                ("appId", pa.string()),
                ("version", pa.int64()),
                ("lastUpdated", pa.int64()),
            ]
        )
        txns = sorted(state.txns.items())
        n_txn = len(txns)
        proto_row = dict(state.protocol or _PROTOCOL)
        proto_row.setdefault("readerFeatures", None)
        proto_row.setdefault("writerFeatures", None)
        rows_protocol: list[Any] = [proto_row] + [None] * (1 + n + n_txn)
        meta_row = {
            # the real table id — checkpoint-seeded readers key
            # streaming-source identity and idempotency on it
            "id": state.metadata_id or "unknown",
            "format": {"provider": "parquet"},
            "schemaString": state.schema_json,
            "partitionColumns": list(state.partition_columns),
            "configuration": list(state.properties.items()),
            "createdTime": None,
        }
        rows_meta: list[Any] = [None, meta_row] + [None] * (n + n_txn)
        rows_txn: list[Any] = (
            [None, None]
            + [
                {"appId": a, "version": int(v), "lastUpdated": None}
                for a, v in txns
            ]
            + [None] * n
        )
        rows_add: list[Any] = [None, None] + [None] * n_txn + [
            {
                "path": a["path"],
                "partitionValues": list(
                    (a.get("partitionValues") or {}).items()
                ),
                "size": a.get("size", 0),
                "modificationTime": a.get("modificationTime", 0),
                "dataChange": False,
                "stats": a.get("stats"),
                "deletionVector": a.get("deletionVector"),
            }
            for a in state.adds.values()
        ]
        table = pa.table(
            {
                "protocol": pa.array(rows_protocol, type=proto_struct),
                "metaData": pa.array(rows_meta, type=meta_struct),
                "txn": pa.array(rows_txn, type=txn_struct),
                "add": pa.array(rows_add, type=add_struct),
            }
        )
        log = Path(root) / LOG_DIR
        buf = pa.BufferOutputStream()
        pq.write_table(table, buf)
        # a racing writer publishing the same version wrote the same
        # content, so losing the race is fine
        publish_new(
            log / f"{version:020d}.checkpoint.parquet",
            buf.getvalue().to_pybytes(),
        )
        last = log / "_last_checkpoint"
        tmp = log / f".{last.name}.{uuid.uuid4().hex}.tmp"
        try:
            with open(tmp, "w") as fh:
                fh.write(json.dumps({"version": version, "size": n + n_txn + 2}))
            os.replace(tmp, last)
        finally:
            tmp.unlink(missing_ok=True)
