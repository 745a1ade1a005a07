"""CHECK-constraint enforcement on the COW table format
(``cowtable``): Delta-style semantics — validated at create /
add-constraint time over existing data, then enforced on every
content-introducing write with O(rows-written) cost; NULL evaluations
pass (SQL three-valued CHECK); violating commits leave NO snapshot."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

import data_warehouse_solution_spark.cowtable as cow


def _fresh(name: str) -> str:
    return os.path.join(tempfile.mkdtemp(prefix=f"dws_ck_{name}_"), "t")


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v double, s string")


GOOD = [(1, 10.0, "a"), (2, 20.0, "b"), (3, None, "c")]  # NULL v passes
CHECKS = {"v_positive": "v > 0", "k_nonzero": "k <> 0"}


def test_create_refuses_violating_data(spark):
    path = _fresh("createbad")
    with pytest.raises(cow.CowConstraintViolation) as e:
        cow.create(spark, path, _df(spark, [(1, -5.0, "x")]), check_constraints=CHECKS)
    assert "v_positive" in str(e.value)
    with pytest.raises(cow.CowTableNotFound):
        cow.current_snapshot(spark, path)


def test_append_update_merge_enforced_null_passes(spark):
    path = _fresh("dml")
    cow.create(spark, path, _df(spark, GOOD), check_constraints=CHECKS)
    # valid append (including a NULL in the checked column) commits
    cow.append(spark, path, _df(spark, [(4, 40.0, "d"), (5, None, "e")]))
    assert cow.read(spark, path).count() == 5
    before = cow.current_snapshot(spark, path)
    with pytest.raises(cow.CowConstraintViolation):
        cow.append(spark, path, _df(spark, [(6, -1.0, "f")]))
    assert cow.current_snapshot(spark, path) == before  # nothing committed
    with pytest.raises(cow.CowConstraintViolation):
        cow.update(spark, path, "k = 1", {"v": "-99.0"})
    assert cow.current_snapshot(spark, path) == before
    with pytest.raises(cow.CowConstraintViolation):
        cow.merge_upsert(spark, path, _df(spark, [(2, -3.0, "z")]), ["k"])
    assert cow.current_snapshot(spark, path) == before
    # valid update commits and the constraint survives the rewrite
    cow.update(spark, path, "k = 1", {"v": "11.5"})
    m = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    assert m["check_constraints"] == CHECKS
    # DELETE never re-validates: removing rows cannot violate
    cow.delete(spark, path, "k = 2")
    assert cow.read(spark, path).count() == 4


def test_add_constraint_validates_existing_then_enforces(spark):
    path = _fresh("alter")
    cow.create(spark, path, _df(spark, GOOD + [(9, 90.0, "zz")]))
    with pytest.raises(cow.CowConstraintViolation):
        cow.add_check_constraint(spark, path, "v_small", "v < 50")  # 90.0 violates
    cow.add_check_constraint(spark, path, "v_small", "v < 100")
    with pytest.raises(cow.CowConstraintViolation):
        cow.append(spark, path, _df(spark, [(10, 500.0, "big")]))
    cow.drop_check_constraint(spark, path, "v_small")
    cow.append(spark, path, _df(spark, [(10, 500.0, "big")]))
    assert cow.read(spark, path).filter(F.col("v") == 500.0).count() == 1
    with pytest.raises(ValueError):
        cow.drop_check_constraint(spark, path, "nope")
    with pytest.raises(ValueError):
        cow.add_check_constraint(spark, path, "bad name!", "v > 0")


def test_drop_column_refused_while_referenced(spark):
    path = _fresh("dropcol")
    cow.create(spark, path, _df(spark, GOOD), check_constraints={"vpos": "v > 0"})
    with pytest.raises(ValueError, match="referenced by CHECK"):
        cow.alter_drop_column(spark, path, "v")
    cow.drop_check_constraint(spark, path, "vpos")
    cow.alter_drop_column(spark, path, "v")
    assert "v" not in cow.read(spark, path).columns


def test_constraints_through_sql_gate(spark):
    from data_warehouse_solution_spark.sql_gate import run_sql

    path = _fresh("gate")
    cow.create(spark, path, _df(spark, GOOD))
    snap = run_sql(
        spark, f"ALTER TABLE `{path}` ADD CONSTRAINT v_pos CHECK (v > 0)"
    ).collect()[0]["snapshot_id"]
    assert snap == 2
    run_sql(spark, f"INSERT INTO `{path}` VALUES (7, 70.0, 'g')")
    with pytest.raises(cow.CowConstraintViolation):
        run_sql(spark, f"INSERT INTO `{path}` VALUES (8, -1.0, 'h')")
    run_sql(spark, f"ALTER TABLE `{path}` DROP CONSTRAINT v_pos")
    run_sql(spark, f"INSERT INTO `{path}` VALUES (8, -1.0, 'h')")
    assert cow.read(spark, path).count() == 5


def test_bad_constraint_expression_leaves_no_orphans(spark):
    """A malformed/unknown-column constraint raises at create AND
    cleans the already-staged data files — on a manifest-less path
    they would otherwise be unreclaimable (vacuum needs a table)."""
    path = _fresh("badexpr")
    with pytest.raises(Exception) as e:
        cow.create(
            spark,
            path,
            _df(spark, GOOD),
            check_constraints={"broken": "no_such_column > 0"},
        )
    assert not isinstance(e.value, cow.CowConstraintViolation)
    data_dir = os.path.join(path, "data")
    assert not os.path.isdir(data_dir) or os.listdir(data_dir) == []


def test_failed_stats_pass_leaves_no_orphans_without_constraints(spark, monkeypatch):
    """Any failure of staging's stats/bloom pass deletes the staged
    files, on an unconstrained table too: no manifest references them,
    so they would otherwise orphan until a vacuum."""
    path = _fresh("statsfail")
    cow.create(spark, path, _df(spark, GOOD), bloom_columns=["s"])
    data_dir = os.path.join(path, "data")

    def files():
        return {
            os.path.relpath(os.path.join(d, f), data_dir)
            for d, _, fs in os.walk(data_dir)
            for f in fs
            if f.endswith(".parquet")
        }

    before = files()

    def boom(*a, **k):
        raise RuntimeError("bloom job failed")

    monkeypatch.setattr(cow, "_spark_bloom_positions", boom)
    with pytest.raises(RuntimeError, match="bloom job failed"):
        cow.append(spark, path, _df(spark, [(7, 70.0, "g")]))
    m = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    assert files() == before == {f["name"] for f in m["files"]}
    assert not [n for n in os.listdir(path) if n.startswith("_staging-")]


def test_drop_column_constraint_check_is_semantic(spark, tmp_path):
    """String literals containing a column's name must not block the
    drop; backticked identifiers must. (The r5 regex check got both
    directions wrong.)"""
    import data_warehouse_solution_spark.cowtable as cow

    path = str(tmp_path / "sem")
    cow.create(
        spark,
        path,
        spark.createDataFrame([(1, "x", 2.0)], "`k` long, `weird col` string, v double"),
    )
    # references ONLY `weird col` and a literal mentioning v
    cow.add_check_constraint(spark, path, "lit_only", "`weird col` <> 'v is fine'")
    # v occurs only inside the string literal: dropping v must succeed
    cow.alter_drop_column(spark, path, "v")
    assert "v" not in cow.read(spark, path).columns
    # the backticked identifier is a REAL reference: drop must refuse
    with pytest.raises(ValueError, match="lit_only"):
        cow.alter_drop_column(spark, path, "weird col")


# --- NOT NULL column constraints (r11 late): CHECK-machinery sugar --


def test_set_not_null_validates_existing_and_enforces_writes(spark, tmp_path):
    import pytest as _pt

    from data_warehouse_solution_spark.sql_gate import run_sql

    p = str(tmp_path / "nn")
    cow.create(
        spark,
        p,
        spark.createDataFrame([(1, "a"), (2, None)], "k long, v string"),
    )
    # existing NULL blocks the constraint (Delta's rule)
    with _pt.raises(Exception):
        run_sql(spark, f"ALTER TABLE cow.`{p}` ALTER COLUMN v SET NOT NULL")
    cow.update(spark, p, "v IS NULL", {"v": "'fixed'"})
    run_sql(spark, f"ALTER TABLE cow.`{p}` ALTER COLUMN v SET NOT NULL")
    # future writes validate
    with _pt.raises(Exception):
        cow.append(spark, p, spark.createDataFrame([(3,)], "k long"))
    cow.append(
        spark, p, spark.createDataFrame([(3, "c")], "k long, v string")
    )
    # DROP lifts it
    run_sql(spark, f"ALTER TABLE cow.`{p}` ALTER COLUMN v DROP NOT NULL")
    cow.append(spark, p, spark.createDataFrame([(4,)], "k long"))
    got = {r["k"]: r["v"] for r in cow.read(spark, p).collect()}
    assert got == {1: "a", 2: "fixed", 3: "c", 4: None}


def test_not_null_on_unknown_column_refuses(spark, tmp_path):
    import pytest as _pt

    from data_warehouse_solution_spark.sql_gate import run_sql

    p = str(tmp_path / "nn2")
    cow.create(spark, p, spark.createDataFrame([(1,)], "k long"))
    with _pt.raises(Exception):
        run_sql(
            spark, f"ALTER TABLE cow.`{p}` ALTER COLUMN ghost SET NOT NULL"
        )
    with _pt.raises(Exception):
        run_sql(
            spark, f"ALTER TABLE cow.`{p}` ALTER COLUMN k DROP NOT NULL"
        )


def test_fused_validation_bloom_table_and_rename_fallback(spark):
    """r15: CHECK validation rides the staging value pass. Pin both
    halves of the contract — on a bloom-indexed table (the FUSED
    single-job path) violations still refuse with no snapshot and no
    orphaned data files, valid writes still record blooms; and after a
    column RENAME (the mapped-read fallback path, physical file names
    differ from the logical constraint names) enforcement still works
    both ways."""
    path = _fresh("fused")
    cow.create(
        spark,
        path,
        _df(spark, GOOD),
        bloom_columns=["s"],
        check_constraints=CHECKS,
    )
    m = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    assert all(e.get("blooms", {}).get("s") for e in m["files"])
    before = cow.current_snapshot(spark, path)
    data_dir = os.path.join(path, "data")
    n_files_before = sum(
        len(fs) for _, _, fs in os.walk(data_dir)
    )
    with pytest.raises(cow.CowConstraintViolation) as e:
        cow.append(spark, path, _df(spark, [(7, -2.0, "g"), (0, 1.0, "h")]))
    # both constraints named with their violation counts, same message
    # shape as the pre-fusion validator
    assert "v_positive" in str(e.value) and "k_nonzero" in str(e.value)
    assert cow.current_snapshot(spark, path) == before
    assert sum(len(fs) for _, _, fs in os.walk(data_dir)) == n_files_before
    # valid append on the fused path: commits AND carries blooms
    cow.append(spark, path, _df(spark, [(8, 80.0, "i")]))
    m = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    assert all(e.get("blooms", {}).get("s") for e in m["files"])
    # rename a column THEN constrain its new logical name: files keep
    # the old physical name, so staged-byte validation must go through
    # the mapped-read fallback (renaming an already-constrained column
    # is refused by alter_rename_column, so this is the only way the
    # two features combine)
    cow.drop_check_constraint(spark, path, "v_positive")
    cow.alter_rename_column(spark, path, "v", "val")
    cow.add_check_constraint(spark, path, "val_pos", "val > 0 OR val IS NULL")
    before = cow.current_snapshot(spark, path)
    with pytest.raises(cow.CowConstraintViolation):
        cow.append(
            spark,
            path,
            spark.createDataFrame([(9, -9.0, "j")], "k long, val double, s string"),
        )
    assert cow.current_snapshot(spark, path) == before
    cow.append(
        spark,
        path,
        spark.createDataFrame([(9, 9.0, "j")], "k long, val double, s string"),
    )
    got = {r["k"]: r["val"] for r in cow.read(spark, path).collect()}
    assert got[9] == 9.0 and len(got) == 5
