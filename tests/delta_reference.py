"""Reference reader for Delta tables, independent of the engine's scan.

Tests check what the engine wrote against what a second Delta reader
sees in the same ``_delta_log``. This reader folds the log itself —
``_State``, ``_replay_checkpoint`` and ``_commit_actions`` from the
protocol module, applied here WITHOUT the engine's snapshot cache, so
a cache bug cannot hide from it — and reads data files with
``pyarrow.parquet``: no Spark job, and no scan code shared with
``LakeTable``. Deleted rows come from ``_dv_positions``; partition
columns from each file's ``partitionValues``; column-mapped files are
read by physical name. Its change feed is its own loop over commit
actions, not the engine's ``change_files`` planner.

Rows are plain dicts keyed by logical column name (nested structs are
dicts too, maps are dicts, arrays are lists).
"""

from __future__ import annotations

import datetime as dt
import json
from decimal import Decimal
from pathlib import Path
from typing import Any

import pyarrow.parquet as pq
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from databricks_delta_lake_project_spark.tables import delta_interop as di

_PHYS = "delta.columnMapping.physicalName"


def versions(root: str) -> list[int]:
    """Commit versions present in the log, ascending."""
    log = Path(root) / "_delta_log"
    return sorted(int(p.stem) for p in log.glob("*.json") if p.stem.isdigit())


def version(root: str) -> int:
    return versions(root)[-1]


def state(root: str, at: int | None = None) -> di._State:
    """Table state at ``at`` (latest when None), folded from the newest
    checkpoint ``_last_checkpoint`` names at or below it, else from v0."""
    at = version(root) if at is None else at
    st = di._State()
    first = 0
    last_cp = Path(root) / "_delta_log" / "_last_checkpoint"
    if last_cp.is_file():
        cp = json.loads(last_cp.read_text())["version"]
        if cp <= at:
            di._replay_checkpoint(str(root), cp, st)
            first = cp + 1
    for v in range(first, at + 1):
        for action in di._commit_actions(str(root), v):
            st.apply(action)
    st.check_readable()
    return st


def _schema_of(st: di._State) -> StructType:
    return StructType.fromJson(json.loads(st.schema_json))


def schema(root: str, at: int | None = None) -> StructType:
    return _schema_of(state(root, at))


def _logical(value: Any, typ: Any) -> Any:
    """A pyarrow value under physical names -> the logical shape."""
    if value is None:
        return None
    if isinstance(typ, StructType):
        return {
            f.name: _logical(value.get(f.metadata.get(_PHYS, f.name)), f.dataType)
            for f in typ.fields
        }
    if isinstance(typ, ArrayType):
        return [_logical(v, typ.elementType) for v in value]
    if isinstance(typ, MapType):
        return {k: _logical(v, typ.valueType) for k, v in value}
    return value


def _partition_value(raw: str | None, typ: Any) -> Any:
    """A ``partitionValues`` string typed per the schema."""
    if raw is None:
        return None
    if isinstance(typ, (ByteType, ShortType, IntegerType, LongType)):
        return int(raw)
    if isinstance(typ, (FloatType, DoubleType)):
        return float(raw)
    if isinstance(typ, BooleanType):
        return raw.lower() == "true"
    if isinstance(typ, DateType):
        return dt.date.fromisoformat(raw)
    if isinstance(typ, (TimestampType, TimestampNTZType)):
        return dt.datetime.fromisoformat(raw)
    if isinstance(typ, DecimalType):
        return Decimal(raw)
    return raw


def _file_rows(
    root: str,
    st: di._State,
    entry: dict[str, Any],
    extra: tuple[str, ...] = (),
) -> list[dict[str, Any]]:
    """Alive rows of one add/cdc file under the logical schema, plus the
    ``extra`` columns the file carries (``_change_type`` in cdc files)."""
    # an absolute path (a shallow clone's borrowed file) replaces root
    table = pq.ParquetFile(Path(root) / entry["path"]).read()
    cols = {name: table.column(name).to_pylist() for name in table.column_names}
    dv = entry.get("deletionVector")
    dead = set(di._dv_positions(str(root), dv).tolist()) if dv else set()
    fields = _schema_of(st).fields
    pmap = st.phys_partition_map()
    pvals = entry.get("partitionValues") or {}
    out = []
    for i in range(table.num_rows):
        if i in dead:
            continue
        row = {}
        for f in fields:
            if f.name in pmap:
                row[f.name] = _partition_value(pvals.get(pmap[f.name]), f.dataType)
            else:
                col = cols.get(f.metadata.get(_PHYS, f.name))
                row[f.name] = None if col is None else _logical(col[i], f.dataType)
        for name in extra:
            row[name] = cols[name][i]
        out.append(row)
    return out


def rows(root: str, at: int | None = None) -> list[dict[str, Any]]:
    """Every row of the table at ``at`` (latest when None)."""
    st = state(root, at)
    return [r for a in st.adds.values() for r in _file_rows(root, st, a)]


def changes(
    root: str, start: int = 0, end: int | None = None
) -> list[dict[str, Any]]:
    """The change data feed over ``[start, end]``: table columns plus
    ``_change_type`` and ``_commit_version``. A version with ``cdc``
    actions is served from those files alone; otherwise its
    data-changing adds are inserts. A version that removed data or
    attached a deletion vector without ``cdc`` actions is refused, and
    so is a range whose commits are no longer all in the log."""
    present = versions(root)
    end = present[-1] if end is None else end
    if end < start:
        raise ValueError(f"CDF range v{start}..v{end} ends before it starts")
    if start < present[0]:
        raise ValueError(
            f"CDF from v{start}: commits before v{present[0]} are no "
            "longer in the log (vacuumed)"
        )
    st = state(root, start)
    out: list[dict[str, Any]] = []
    for v in (v for v in present if start <= v <= end):
        actions = di._commit_actions(str(root), v)
        if v > start:
            for a in actions:
                st.apply(a)
        cdcs = [a["cdc"] for a in actions if a.get("cdc")]
        adds = [
            a["add"]
            for a in actions
            if a.get("add") and a["add"].get("dataChange", True)
        ]
        removed = any(
            a.get("remove") and a["remove"].get("dataChange", True)
            for a in actions
        )
        if cdcs:
            got = [
                r for c in cdcs for r in _file_rows(root, st, c, ("_change_type",))
            ]
        elif removed or any(a.get("deletionVector") for a in adds):
            raise NotImplementedError(
                f"CDF for version {v}: files rewritten without cdc actions"
            )
        else:
            got = [
                {**r, "_change_type": "insert"}
                for a in adds
                for r in _file_rows(root, st, a)
            ]
        out += [{**r, "_commit_version": v} for r in got]
    return out
