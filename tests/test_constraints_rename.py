"""ALTER TABLE ADD/DROP CONSTRAINT + RENAME TO (beyond the reference's
surface; Delta's public constraint DDL and the external-table rename
contract). ADD validates every existing row in one aggregation pass
before the property lands; DROP is metadata-only (the key leaves the
configuration snapshot); RENAME rebinds the registry name without touching
data or log."""

from __future__ import annotations

import pytest
from pyspark.sql import Row

from databricks_delta_lake_project_spark.queries.sqlpack import run_statement
from databricks_delta_lake_project_spark.tables import LakeTable, sqldml


def _mk(spark, tmp_path, name, fmt="delta"):
    t = LakeTable.create(
        spark,
        str(tmp_path / name),
        df=spark.createDataFrame(
            [Row(id=1, amount=10.0), Row(id=2, amount=20.0)]
        ),
        format=fmt,
    )
    sqldml.register_table(spark, name, t)
    return t


def test_add_constraint_validates_then_enforces(spark, tmp_path):
    t = _mk(spark, tmp_path, "con_t")
    res = sqldml.run_dml(
        spark,
        "ALTER TABLE con_t ADD CONSTRAINT amount_pos CHECK (amount > 0)",
    )
    assert res["operation"] == "ADD CONSTRAINT" and res["version"] == 1
    assert t.constraints() == {"amount_pos": "amount > 0"}

    # writer obligation: a violating INSERT refuses, a clean one lands
    with pytest.raises(ValueError, match="amount_pos"):
        run_statement(
            spark, "INSERT INTO con_t VALUES (3, -5.0)"
        )
    run_statement(spark, "INSERT INTO con_t VALUES (3, 5.0)")
    assert t.to_df().count() == 3
    # NULL passes, like CHECK in every SQL engine
    run_statement(spark, "INSERT INTO con_t VALUES (4, NULL)")
    assert t.to_df().count() == 4


def test_add_constraint_refuses_on_existing_violation(spark, tmp_path):
    t = _mk(spark, tmp_path, "con_bad")
    v = t._log.latest_version(t.root)
    with pytest.raises(ValueError, match="1 rows"):
        t.add_constraint("small", "amount < 15")
    # the DDL never half-lands: no property, no commit
    assert t.constraints() == {}
    assert t._log.latest_version(t.root) == v
    # unknown column refuses loudly at analysis
    with pytest.raises(Exception):
        t.add_constraint("ghost", "no_such_col > 0")
    # duplicate name refuses
    t.add_constraint("pos", "amount > 0")
    with pytest.raises(ValueError, match="already exists"):
        t.add_constraint("POS", "amount > 1")


@pytest.mark.parametrize("fmt", ["delta"])
def test_drop_constraint_both_backends(spark, tmp_path, fmt):
    """The unset omits the key from the full configuration snapshot,
    so a fresh replay does not resurrect it."""
    name = f"con_drop_{fmt}"
    t = _mk(spark, tmp_path, name, fmt=fmt)
    t.add_constraint("amount_pos", "amount > 0")
    with pytest.raises(ValueError):
        t.append(spark.createDataFrame([Row(id=9, amount=-1.0)]))

    res = sqldml.run_dml(
        spark, f"ALTER TABLE {name} DROP CONSTRAINT amount_pos"
    )
    assert res["dropped"] is True
    assert t.constraints() == {}
    # enforcement is gone — and stays gone across a fresh handle
    t.append(spark.createDataFrame([Row(id=9, amount=-1.0)]))
    fresh = LakeTable(spark, t.root)
    assert fresh.constraints() == {}

    with pytest.raises(ValueError, match="no such constraint"):
        t.drop_constraint("amount_pos")
    assert t.drop_constraint("amount_pos", if_exists=True) is None


def test_rename_to_rebinds_name_only(spark, tmp_path):
    t = _mk(spark, tmp_path, "rn_old")
    run_statement(spark, "SELECT * FROM rn_old").collect()  # owned view up
    res = sqldml.run_dml(spark, "ALTER TABLE rn_old RENAME TO rn_new")
    assert res["oldName"] == "rn_old" and res["newName"] == "rn_new"

    # new name resolves for SQL DML and SELECT; data untouched
    assert run_statement(spark, "SELECT * FROM rn_new").count() == 2
    run_statement(spark, "UPDATE rn_new SET amount = 99.0 WHERE id = 1")
    assert {
        r["amount"] for r in run_statement(spark, "SELECT * FROM rn_new").collect()
    } == {99.0, 20.0}
    # the old name stops resolving
    with pytest.raises(ValueError, match="unknown DML target"):
        sqldml.resolve_table(spark, "rn_old")

    # renaming onto an existing name refuses
    _mk(spark, tmp_path, "rn_other")
    with pytest.raises(ValueError, match="already exists"):
        run_statement(spark, "ALTER TABLE rn_new RENAME TO rn_other")


def test_rename_preserves_other_aliases(spark, tmp_path):
    """RENAME TO moves ONLY the named binding — the same table
    registered under another alias keeps resolving."""
    t = _mk(spark, tmp_path, "al_main")
    sqldml.register_table(spark, "cat.sch.al_full", t)
    res = sqldml.run_dml(spark, "ALTER TABLE al_main RENAME TO al_moved")
    assert res["oldName"] == "al_main"
    assert sqldml.resolve_table(spark, "cat.sch.al_full") is t
    assert sqldml.resolve_table(spark, "al_moved") is t
    with pytest.raises(ValueError, match="ambiguous|unknown"):
        sqldml.resolve_table(spark, "al_main")
