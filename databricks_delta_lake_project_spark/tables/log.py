"""Transaction log for the engine's ACID table format ("lakehouse-lite").

Stands in for the Delta `_delta_log` the reference relies on
(``/root/reference/src/utils/delta_lake_features.py:37-60`` — the
reference describes Delta as "Parquet + transaction log"; this module
provides exactly that on open-source Spark without delta-spark).

Layout under a table root:

    <root>/_log/00000000000000000000.json   one JSON doc per commit
    <root>/data/part-*.parquet              immutable data files
    <root>/_changes/version=N/*.parquet     change-data-feed rows

Commit protocol: the commit file for version N is published
put-if-absent (``publish_new``: a hard link from a fully written temp
file, so a crash never leaves a torn version). Two concurrent writers
racing on the same version -> exactly one wins; the loser re-reads the
log and retries. This is the same optimistic-concurrency contract Delta
uses on object stores.

Each commit document:

    {"version": N, "timestamp_ms": ..., "operation": "WRITE|APPEND|MERGE|...",
     "operationParameters": {...}, "operationMetrics": {...},
     "add": [{"path": "data/part-...", "rows": n, "bytes": n,
              "stats": {"col": {"min": .., "max": .., "nulls": n}}}],
     "remove": ["data/part-..."],
     "schema": "<spark schema json>", "properties": {...}}
"""

from __future__ import annotations

import json
import os
import time
import uuid
from pathlib import Path
from typing import Any

LOG_DIR = "_log"
DATA_DIR = "data"
CHANGES_DIR = "_changes"

# fold state into a checkpoint every N commits (same role as Delta's
# _delta_log checkpoint.parquet): snapshot reads replay O(interval)
# commits instead of O(version). Commit JSONs are never deleted, so
# time travel to pre-checkpoint versions still replays from zero.
CHECKPOINT_INTERVAL = 20


def publish_new(path: Path, body: str) -> bool:
    """Create ``path`` holding ``body`` if it does not exist yet; False
    when it does (a lost race). The body goes to a dot-prefixed temp
    file in the same directory first and is hard-linked into place, so
    ``path`` appears whole or not at all: a crash or ENOSPC mid-write
    leaves at most the temp file, which no log listing reads (their
    names are not ``<digits>.json``)."""
    tmp = path.with_name(f".{path.name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "x") as fh:
            fh.write(body)
        try:
            os.link(tmp, path)
        except FileExistsError:
            return False
        return True
    finally:
        tmp.unlink(missing_ok=True)


def _commit_path(root: str, version: int) -> Path:
    return Path(root) / LOG_DIR / f"{version:020d}.json"


def _checkpoint_path(root: str, version: int) -> Path:
    return Path(root) / LOG_DIR / f"checkpoint_{version:020d}.json"


def _checkpoint_versions(root: str) -> list[int]:
    log = Path(root) / LOG_DIR
    if not log.is_dir():
        return []
    return sorted(
        int(p.stem.split("_")[1])
        for p in log.iterdir()
        if p.stem.startswith("checkpoint_") and p.suffix == ".json"
    )


def latest_checkpoint(
    root: str, up_to: int | None = None
) -> dict[str, Any] | None:
    """Newest checkpoint at or before ``up_to`` (latest if None)."""
    versions = [
        v for v in _checkpoint_versions(root) if up_to is None or v <= up_to
    ]
    if not versions:
        return None
    with open(_checkpoint_path(root, versions[-1])) as f:
        return json.load(f)


def write_checkpoint(root: str, version: int) -> None:
    """Fold the log through ``version`` into a checkpoint document.
    Atomic create; racing writers produce the same content so the
    loser's FileExistsError is ignorable."""
    files: dict[str, dict[str, Any]] = {}
    props: dict[str, Any] = {}
    txns: dict[str, int] = {}
    schema = None
    for c in read_log(root, version, use_checkpoint=False):
        for r in c.get("remove", []):
            files.pop(r, None)
        for a in c.get("add", []):
            files[a["path"]] = a
        props.update(c.get("properties", {}))
        txn = c.get("operationParameters", {}).get("txn")
        if txn:
            txns[txn["appId"]] = max(
                txns.get(txn["appId"], -1), int(txn["version"])
            )
        schema = c["schema"]
    # drop deletion tombstones once after the fold — a checkpoint IS a
    # full snapshot, later merges start from it
    props = {k: v for k, v in props.items() if v is not None}
    doc = {
        "version": version,
        "files": files,
        "schema": schema,
        "properties": props,
        "txns": txns,
    }
    publish_new(_checkpoint_path(root, version), json.dumps(doc))


def list_versions(root: str) -> list[int]:
    log = Path(root) / LOG_DIR
    if not log.is_dir():
        return []
    out = []
    for p in log.iterdir():
        if p.suffix == ".json" and p.stem.isdigit():
            out.append(int(p.stem))
    return sorted(out)


def latest_version(root: str) -> int | None:
    versions = list_versions(root)
    return versions[-1] if versions else None


def read_commit(root: str, version: int) -> dict[str, Any]:
    with open(_commit_path(root, version)) as f:
        return json.load(f)


def read_log(
    root: str, up_to: int | None = None, use_checkpoint: bool = False
) -> list[dict[str, Any]]:
    """Commits <= up_to. With ``use_checkpoint`` the list starts AFTER
    the newest eligible checkpoint (callers must seed their fold from
    it); without, the full history is returned."""
    lo = -1
    if use_checkpoint:
        ckpt = latest_checkpoint(root, up_to)
        if ckpt is not None:
            lo = ckpt["version"]
    return [
        read_commit(root, v)
        for v in list_versions(root)
        if v > lo and (up_to is None or v <= up_to)
    ]


def try_commit(root: str, commit: dict[str, Any]) -> bool:
    """Atomically publish a commit; False if the version already exists
    (optimistic-concurrency conflict — caller re-reads and retries)."""
    path = _commit_path(root, commit["version"])
    path.parent.mkdir(parents=True, exist_ok=True)
    return publish_new(path, json.dumps(commit))


class ConcurrentModificationError(RuntimeError):
    """Lost an optimistic-concurrency race against a commit this
    writer's plan logically conflicts with: the precomputed add/remove
    actions were derived from a snapshot another writer has since
    changed. Blind re-commit would resurrect their deletions or remove
    files already gone — callers must recompute from the new snapshot
    (Delta performs the same conflict checking on retry)."""


def commit(
    root: str,
    operation: str,
    add: list[dict[str, Any]],
    remove: list[str],
    schema_json: str,
    parameters: dict[str, Any] | None = None,
    metrics: dict[str, Any] | None = None,
    properties: dict[str, Any] | None = None,
    max_retries: int = 20,
    expected_version: int | None = None,
    schema_authoritative: bool = False,
) -> int:
    """Append a commit with optimistic retry; returns the version.

    Pure appends (no removes) retry blindly — they cannot conflict at
    the file level. A remove-carrying commit validates against every
    commit that landed after ``expected_version`` (the snapshot the
    caller planned its add/remove actions from — pass it!): a commit
    that TOUCHED any file we plan to remove means our plan is stale
    (their DV re-add or rewrite would be silently undone), and we
    raise :class:`ConcurrentModificationError` instead of committing a
    lost update. Concurrent commits over DISJOINT files — the routine
    streaming-append-during-DELETE case — proceed, matching Delta's
    WriteSerializable rules. Without ``expected_version`` the check
    degrades to races lost inside this call only."""
    # preserve schema METADATA across commits (invariants, comments,
    # generation expressions): callers usually pass a DataFrame-derived
    # schema that carries none — emitting it verbatim would silently
    # strip the table's declared metadata and disable constraint
    # enforcement for every later writer (same contract as the Delta
    # backend)
    if latest_version(root) is not None and not schema_authoritative:
        from .delta_interop import merge_schema_metadata, strip_schema_metadata

        cur_schema = schema_at(root)
        if strip_schema_metadata(cur_schema) == strip_schema_metadata(
            schema_json
        ):
            schema_json = cur_schema
        else:
            schema_json = merge_schema_metadata(cur_schema, schema_json)
    planned_prev = (
        expected_version
        if expected_version is not None
        else latest_version(root)
    )
    # a full property-SNAPSHOT commit (ANALYZE, SET TBLPROPERTIES)
    # planned against an explicit snapshot must conflict with any rival
    # property change landing meanwhile — replaying the stale snapshot
    # would silently revert it. Plain data commits (properties=None)
    # and unversioned writes keep the cheap path.
    props_guard = properties is not None and expected_version is not None
    for _ in range(max_retries):
        prev = latest_version(root)
        if (remove or schema_authoritative or props_guard) and prev != planned_prev:
            if schema_authoritative:
                # the caller computed schema metadata (e.g. an identity
                # highWaterMark) from a now-stale snapshot; emitting it
                # could regress a rival's advance — recompute and retry
                raise ConcurrentModificationError(
                    f"{operation} planned at v{planned_prev} carries "
                    f"schema metadata but v{prev} landed since; "
                    "recompute and retry"
                )
            ours = set(remove)
            lo = -1 if planned_prev is None else planned_prev
            base_schema: str | None = None
            for c in read_log(root):
                if c["version"] <= lo:
                    # remember the schema AT the planned snapshot so a
                    # rival schema evolution after it is detectable
                    base_schema = c.get("schema") or base_schema
                    continue
                theirs = {a["path"] for a in c.get("add", [])} | set(
                    c.get("remove", [])
                )
                if theirs & ours:
                    raise ConcurrentModificationError(
                        f"{operation} planned at v{planned_prev} "
                        f"conflicts with concurrent v{c['version']} "
                        f"({c.get('operation')}) touching "
                        f"{sorted(theirs & ours)[:3]}; recompute and retry"
                    )
                if props_guard and (
                    c.get("properties")
                    or (
                        c.get("schema") is not None
                        and c.get("schema") != base_schema
                    )
                ):
                    # a rival property OR schema change landed after the
                    # planned snapshot: this commit replays stale
                    # property/schema state — conflict (retryable), like
                    # the Delta backend's metaData check
                    raise ConcurrentModificationError(
                        f"{operation} planned at v{planned_prev} carries "
                        f"a property snapshot but concurrent "
                        f"v{c['version']} ({c.get('operation')}) changed "
                        "table metadata; recompute and retry"
                    )
            planned_prev = prev  # disjoint files: plan still valid
        version = 0 if prev is None else prev + 1
        doc = {
            "version": version,
            "timestamp_ms": int(time.time() * 1000),
            "operation": operation,
            "operationParameters": parameters or {},
            "operationMetrics": metrics or {},
            "add": add,
            "remove": remove,
            "schema": schema_json,
            "properties": properties or {},
        }
        if try_commit(root, doc):
            if version > 0 and version % CHECKPOINT_INTERVAL == 0:
                write_checkpoint(root, version)
            return version
    raise RuntimeError(f"commit conflict: lost {max_retries} races on {root}")


def active_files(root: str, up_to: int | None = None) -> list[dict[str, Any]]:
    """Files added and not yet removed as of a version: seed from the
    newest eligible checkpoint, replay the remaining commits."""
    ckpt = latest_checkpoint(root, up_to)
    files: dict[str, dict[str, Any]] = dict(ckpt["files"]) if ckpt else {}
    for c in read_log(root, up_to, use_checkpoint=True):
        for r in c.get("remove", []):
            files.pop(r, None)
        for a in c.get("add", []):
            files[a["path"]] = a
    return list(files.values())


def version_at_timestamp(root: str, ts_ms: int) -> int:
    """Largest version whose commit timestamp <= ts_ms (time travel)."""
    best = None
    for c in read_log(root):
        if c["timestamp_ms"] <= ts_ms:
            best = c["version"]
    if best is None:
        raise ValueError(f"no commit at or before timestamp {ts_ms} in {root}")
    return best


def schema_at(root: str, version: int | None = None) -> str:
    commits = read_log(root, version, use_checkpoint=True)
    if commits:
        return commits[-1]["schema"]
    ckpt = latest_checkpoint(root, version)
    if ckpt is not None and ckpt["schema"] is not None:
        return ckpt["schema"]
    raise ValueError(f"not a table: {root}")


def table_properties(
    root: str, version: int | None = None
) -> dict[str, Any]:
    """Fold per-commit property dicts (up to ``version`` when given —
    time-travel property state, e.g. for VERSION AS OF clones); a
    ``None`` value is a DELETION tombstone (the merge-on-replay model
    has no other way to unset — popping a key from a later snapshot
    would be silently re-merged from the earlier commit)."""
    ckpt = latest_checkpoint(root, version)
    props: dict[str, Any] = dict(ckpt["properties"]) if ckpt else {}
    for c in read_log(root, version, use_checkpoint=True):
        props.update(c.get("properties", {}))
    return {k: v for k, v in props.items() if v is not None}


def referenced_files_all_versions(root: str) -> set[str]:
    refs: set[str] = set()
    for c in read_log(root):
        for a in c.get("add", []):
            refs.add(a["path"])
    return refs


def data_dir(root: str) -> Path:
    return Path(root) / DATA_DIR


def partition_columns(root: str, version: int | None = None) -> list[str]:
    """Engine-native tables are unpartitioned by design — data skipping
    rides per-file footer stats instead of directory layout. Hive
    partitioning exists only on Delta-backed tables
    (``delta_log.DeltaLogBackend.partition_columns``)."""
    return []


def ensure_layout(root: str) -> None:
    (Path(root) / LOG_DIR).mkdir(parents=True, exist_ok=True)
    (Path(root) / DATA_DIR).mkdir(parents=True, exist_ok=True)
    (Path(root) / CHANGES_DIR).mkdir(parents=True, exist_ok=True)
