"""Crash-safe commit publish: a commit version appears whole or not at
all. A write that fails halfway (ENOSPC, a crash) must leave the table
at its previous version, with no ``<v>.json``, and the next commit must
land at ``v``. The same holds for checkpoints: a torn checkpoint write
leaves the table readable at the committed version, and the next
checkpoint interval lands whole."""

from __future__ import annotations

import builtins
import errno
import json
from pathlib import Path

import delta_reference as ref
import pytest

from databricks_delta_lake_project_spark.tables import LakeTable
from databricks_delta_lake_project_spark.tables import delta_log
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


def _torn_open_for(name_part: str):
    """``_torn_open`` for writes to files whose name holds ``name_part``;
    every other open passes through."""

    def _open(file, mode="r", *args, **kwargs):
        if name_part in Path(file).name:
            return _torn_open(file, mode, *args, **kwargs)
        return builtins.open(file, mode, *args, **kwargs)

    return _open


def _keys(t: LakeTable) -> list[int]:
    return sorted(r["k"] for r in t.to_df().collect())


@pytest.mark.parametrize("fmt,log_dir", [("delta", "_delta_log")])
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


@pytest.mark.parametrize(
    "module,torn_file",
    [(tlog, ".checkpoint.parquet"), (delta_log, "_last_checkpoint")],
    ids=["parquet", "last_checkpoint"],
)
def test_torn_checkpoint_write_keeps_the_table_readable(
    spark, tmp_path, monkeypatch, module, torn_file
):
    assert delta_log.CHECKPOINT_INTERVAL == 10
    root = tmp_path / "t"
    log = root / "_delta_log"
    t = LakeTable.create(spark, str(root), df=spark.range(5).selectExpr("id AS k"))
    for i in range(1, 10):
        t.append(spark.range(10 * i, 10 * i + 1).selectExpr("id AS k"))
    want = [0, 1, 2, 3, 4] + [10 * i for i in range(1, 11)]

    # the v10 commit lands; its checkpoint write fails halfway
    monkeypatch.setattr(module, "open", _torn_open_for(torn_file), raising=False)
    with pytest.warns(UserWarning, match="checkpoint v10"):
        t.append(spark.range(100, 101).selectExpr("id AS k"))
    monkeypatch.undo()

    assert t.version() == 10
    assert not (log / "_last_checkpoint").exists()
    assert not list(log.glob(".*.tmp"))
    assert _keys(t) == want
    assert sorted(r["k"] for r in t.to_df(version=10).collect()) == want
    assert sorted(r["k"] for r in ref.rows(str(root))) == want

    # a writer killed mid-write leaves a torn temp file; readers skip it
    (log / "._last_checkpoint.0123abcd.tmp").write_text('{"vers')
    assert _keys(t) == want

    for i in range(11, 21):
        t.append(spark.range(10 * i, 10 * i + 1).selectExpr("id AS k"))
    want += [10 * i for i in range(11, 21)]
    assert t.version() == 20
    assert (log / f"{20:020d}.checkpoint.parquet").exists()
    assert json.loads((log / "_last_checkpoint").read_text())["version"] == 20

    # the v20 checkpoint alone reconstructs the table
    for v in range(20):
        (log / f"{v:020d}.json").unlink()
    assert sorted(r["k"] for r in ref.rows(str(root))) == want
