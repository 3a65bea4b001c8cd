"""Crash-safe commit publish: a commit version appears whole or not at
all, on both log writers. A write that fails halfway (ENOSPC, a crash)
must leave the table at its previous version, with no ``<v>.json``,
and the next commit must land at ``v``."""

from __future__ import annotations

import builtins
import errno
from pathlib import Path

import pytest

from databricks_delta_lake_project_spark.tables import LakeTable
from databricks_delta_lake_project_spark.tables import log as tlog


class _TornHandle:
    """File handle whose first write stores half the text, then fails
    the way a full disk does."""

    def __init__(self, fh):
        self._fh = fh

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self._fh.close()
        return False

    def write(self, text: str) -> int:
        self._fh.write(text[: len(text) // 2])
        self._fh.flush()
        raise OSError(errno.ENOSPC, "No space left on device")


def _torn_open(file, mode="r", *args, **kwargs):
    fh = builtins.open(file, mode, *args, **kwargs)
    return _TornHandle(fh) if "x" in mode or "w" in mode else fh


def _keys(t: LakeTable) -> list[int]:
    return sorted(r["k"] for r in t.to_df().collect())


@pytest.mark.parametrize("fmt,log_dir", [("engine", "_log"), ("delta", "_delta_log")])
def test_torn_commit_write_keeps_the_previous_version(
    spark, tmp_path, monkeypatch, fmt, log_dir
):
    root = tmp_path / fmt
    t = LakeTable.create(
        spark, str(root), df=spark.range(5).selectExpr("id AS k"), format=fmt
    )
    v = t.version() + 1
    final = root / log_dir / f"{v:020d}.json"

    monkeypatch.setattr(tlog, "open", _torn_open, raising=False)
    with pytest.raises(OSError):
        t.append(spark.range(5, 8).selectExpr("id AS k"))
    monkeypatch.undo()

    assert not final.exists()
    assert not list(final.parent.glob(".*.tmp"))
    assert t.version() == v - 1
    assert _keys(t) == [0, 1, 2, 3, 4]

    # a writer killed mid-write leaves its torn temp file behind; it is
    # never read as a version and does not block the next commit
    (final.parent / f".{final.name}.0123abcd.tmp").write_text('{"add": {"pa')
    assert t.version() == v - 1
    assert _keys(t) == [0, 1, 2, 3, 4]

    t.append(spark.range(5, 8).selectExpr("id AS k"))
    assert t.version() == v
    assert final.exists()
    assert _keys(t) == [0, 1, 2, 3, 4, 5, 6, 7]
