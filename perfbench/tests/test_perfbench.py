"""Tests of the benchmark itself: seeded inputs, the tail-percentile
rule, and the lake_dml replay oracle against the engine.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from perfbench import lake_dml, medallion_refresh, run, stats, stream_ingest  # noqa: E402


def _tree_digest(d: Path) -> dict[str, str]:
    return {
        str(p.relative_to(d)): hashlib.sha256(p.read_bytes()).hexdigest()
        for p in sorted(d.rglob("*"))
        if p.is_file()
    }


def test_same_seed_same_lake_dml_inputs():
    assert lake_dml.inputs_digest(7) == lake_dml.inputs_digest(7)
    assert lake_dml.inputs_digest(7) != lake_dml.inputs_digest(8)


@pytest.mark.parametrize(
    "write", [stream_ingest.write_backlog, medallion_refresh.write_landing]
)
def test_same_seed_byte_identical_files(tmp_path, write):
    write(5, tmp_path / "a")
    write(5, tmp_path / "b")
    write(6, tmp_path / "c")
    a, b, c = (_tree_digest(tmp_path / x) for x in "abc")
    assert a and a == b
    assert a != c


def test_stream_backlog_mtimes_follow_file_order(tmp_path):
    landed = stream_ingest.write_backlog(3, tmp_path)
    for key in ("tx", "click"):
        files = sorted(landed[key].iterdir())
        mtimes = [f.stat().st_mtime for f in files]
        assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


@pytest.mark.parametrize(
    "n, p",
    [(1, 50.0), (19, 50.0), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (9999, 99.0), (10000, 99.9)],
)
def test_tail_percentile_follows_sample_count(n, p):
    assert stats.tail_percentile(n) == p
    if p > 50.0:
        assert round(n * (100 - p) / 100, 6) >= stats.TAIL_MIN_BEYOND


def test_benchmark_json_matches_result_line():
    """BENCHMARK.json lists exactly the metrics the result line carries."""
    import json

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.E2E_UNITS.items())
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [(k, run._unit(k)) for k in run.PER_LAYER]
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_percentile_interpolates():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert stats.percentile(xs, 50) == 2.5
    assert stats.percentile(xs, 100) == 4.0
    assert stats.percentile([7.0], 90) == 7.0


@pytest.fixture(scope="module")
def spark():
    from databricks_delta_lake_project_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", master="local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_dml_replay_oracle_agrees_with_engine(spark, tmp_path, monkeypatch):
    """At sf0.001 the DuckDB replay of the seeded operation list matches
    every read and every checked table state of the engine."""
    from perfbench.harness import Harness

    monkeypatch.setattr(lake_dml, "N_ORDERS", 1500)
    monkeypatch.setattr(lake_dml, "N_CUST", 150)
    h = Harness(spark, tmp_path, seed=3, tracer=None)
    st = lake_dml.setup(h, 0)
    assert st["setup_version"] >= 10  # past the first checkpoint
    lake_dml.run_round(h, st, 0)
    assert all(o.ok for o in h.ops), [o.error for o in h.ops if not o.ok]
    attempted, failed, notes = lake_dml.check(h, st)
    assert attempted == 2
    assert failed == 0, notes
    assert all(o.ok for o in h.ops)
    # and a wrong read is caught
    count_op = next(o for o in h.ops if o.kind == "count")
    count_op.result += 1
    lake_dml.check(h, st)
    assert not count_op.ok
