"""Format-neutral commit primitives shared by the ``_delta_log`` writer
(``delta_log.py``) and the catalog registry (``registry.py``).

``publish_new`` creates a commit file put-if-absent and whole: a crash
never leaves a torn version, and two writers racing on the same
version get exactly one winner. ``ConcurrentModificationError`` is the
retryable conflict a writer raises when a rival commit invalidated its
plan. This is the optimistic-concurrency contract Delta uses on object
stores.
"""

from __future__ import annotations

import os
import uuid
from pathlib import Path
from typing import Any


def publish_new(path: Path, body: str | bytes) -> bool:
    """Create ``path`` holding ``body`` if it does not exist yet; False
    when it does (a lost race). The body goes to a dot-prefixed temp
    file in the same directory first and is hard-linked into place, so
    ``path`` appears whole or not at all: a crash or ENOSPC mid-write
    leaves at most the temp file, which no log listing reads (their
    names start with a dot and end in ``.tmp``)."""
    tmp = path.with_name(f".{path.name}.{uuid.uuid4().hex}.tmp")
    try:
        with open(tmp, "xb" if isinstance(body, bytes) else "x") as fh:
            fh.write(body)
        try:
            os.link(tmp, path)
        except FileExistsError:
            return False
        return True
    finally:
        tmp.unlink(missing_ok=True)


class ConcurrentModificationError(RuntimeError):
    """Lost an optimistic-concurrency race against a commit this
    writer's plan logically conflicts with: the precomputed add/remove
    actions were derived from a snapshot another writer has since
    changed. Blind re-commit would resurrect their deletions or remove
    files already gone — callers must recompute from the new snapshot
    (Delta performs the same conflict checking on retry)."""


# ``perfbench/trace.py`` looks these names up in this module and wraps
# them; it is their only reader (the engine calls the Delta backend's
# methods directly). They resolve to the one log backend's methods so
# the tracer still installs; the next benchmark change drops them.
_TRACED = (
    "commit",
    "active_files",
    "schema_at",
    "table_properties",
    "partition_columns",
    "latest_checkpoint",
)


def __getattr__(name: str) -> Any:
    if name in _TRACED:
        from .delta_log import DeltaLogBackend

        return getattr(DeltaLogBackend(None), name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
