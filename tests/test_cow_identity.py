"""IDENTITY columns (r11, Delta's GENERATED ALWAYS AS IDENTITY):
engine-assigned BIGINT values — unique, start/step-aligned, >= start,
gaps allowed (zero-shuffle sparse allocation; the high-water mark is
read back from staged footer stats). Covers create/append/merge
allocation, the ALWAYS refusal surface, schema-evolution interplay,
gate SQL, and the concurrent-allocation race guard."""

from __future__ import annotations

import pytest

import data_warehouse_solution_spark.cowtable as cow
from data_warehouse_solution_spark.sql_gate import run_sql


def _mk(spark, path, **kw):
    df = spark.createDataFrame(
        [(x, f"r{x}") for x in range(10)], "k long, v string"
    ).repartition(3)
    cow.create(
        spark, path, df,
        identity_columns={"id": {"start": 100, "step": 3}}, **kw,
    )


def _contract(rows, start=100, step=3):
    ids = [r["id"] for r in rows]
    assert len(set(ids)) == len(ids), "ids not unique"
    assert all((i - start) % step == 0 for i in ids), "ids misaligned"
    assert min(ids) >= start, "id below start"
    return ids


def test_create_assigns_and_records_high_water(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    rows = cow.read(spark, p).collect()
    ids = _contract(rows)
    m = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    assert m["identity_columns"]["id"]["high_water"] == max(ids)


def test_append_allocates_above_high_water(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    before = max(r["id"] for r in cow.read(spark, p).collect())
    cow.append(
        spark, p,
        spark.createDataFrame([(90, "x"), (91, "y")], "k long, v string"),
    )
    rows = cow.read(spark, p).collect()
    _contract(rows)
    new = [r["id"] for r in rows if r["k"] in (90, 91)]
    assert all(i > before for i in new)


def test_explicit_values_refuse_everywhere(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    with pytest.raises(ValueError, match="IDENTITY"):
        cow.append(
            spark, p,
            spark.createDataFrame([(1, "x", 5)], "k long, v string, id long"),
        )
    with pytest.raises(ValueError, match="IDENTITY"):
        cow.update(spark, p, "k = 1", {"id": "0"})
    src = spark.createDataFrame([(1, "x", 5)], "k long, v string, id long")
    with pytest.raises(ValueError, match="IDENTITY"):
        cow.merge(
            spark, p, src, ["k"],
            [{"when": "not_matched", "then": "insert", "values": "*"}],
        )
    src2 = spark.createDataFrame([(1, "x")], "k long, v string")
    with pytest.raises(ValueError, match="IDENTITY"):
        cow.merge(
            spark, p, src2, ["k"],
            [{"when": "matched", "then": "update", "set": {"id": "0"}}],
        )


def test_merge_set_star_keeps_identity_insert_allocates(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    before = {r["k"]: r["id"] for r in cow.read(spark, p).collect()}
    src = spark.createDataFrame([(0, "upd"), (99, "ins")], "k long, v string")
    cow.merge(
        spark, p, src, ["k"],
        [
            {"when": "matched", "then": "update", "set": "*"},
            {"when": "not_matched", "then": "insert", "values": "*"},
        ],
    )
    after = {r["k"]: r for r in cow.read(spark, p).collect()}
    assert after[0]["id"] == before[0] and after[0]["v"] == "upd"
    assert after[99]["id"] > max(before.values())
    _contract(after.values())


def test_merge_upsert_delegates_on_identity_tables(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    before = {r["k"]: r["id"] for r in cow.read(spark, p).collect()}
    cow.merge_upsert(
        spark, p,
        spark.createDataFrame([(0, "U"), (50, "I")], "k long, v string"),
        ["k"],
    )
    after = {r["k"]: r for r in cow.read(spark, p).collect()}
    assert after[0]["id"] == before[0]  # identity survived the upsert
    assert after[50]["id"] > max(before.values())


def test_declaration_refusals(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    # an identity column is ENGINE-ADDED: naming an existing payload
    # column refuses (its values would be clobbered)
    with pytest.raises(ValueError, match="CREATE payload"):
        cow.create(
            spark, str(tmp_path / "x1"), df, identity_columns={"v": {}}
        )
    with pytest.raises(ValueError, match="nonzero"):
        cow.create(
            spark, str(tmp_path / "x2"), df,
            identity_columns={"id": {"step": 0}},
        )
    with pytest.raises(ValueError, match="CREATE payload"):
        cow.create(
            spark, str(tmp_path / "y"),
            spark.createDataFrame([(1, 5)], "k long, id long"),
            identity_columns={"id": {}},
        )
    with pytest.raises(ValueError, match="partition column"):
        cow.create(
            spark, str(tmp_path / "z"), df,
            partition_by=["id"], identity_columns={"id": {}},
        )
    p = str(tmp_path / "d")
    _mk(spark, p)
    with pytest.raises(ValueError, match="IDENTITY"):
        cow.alter_set_column_default(spark, p, "id", "0")


def test_rename_follows_and_drop_retires(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    cow.alter_rename_column(spark, p, "id", "rid")
    m = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    assert "rid" in m["identity_columns"]
    cow.append(spark, p, spark.createDataFrame([(77, "n")], "k long, v string"))
    rows = cow.read(spark, p).collect()
    assert len({r["rid"] for r in rows}) == len(rows)
    cow.alter_drop_column(spark, p, "rid")
    m = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    assert "identity_columns" not in m


def test_concurrent_allocation_race_refuses(spark, tmp_path):
    """A writer that staged ids from a stale high-water mark must NOT
    silently retry past a winner that advanced it — duplicate ids."""
    p = str(tmp_path / "t")
    _mk(spark, p)
    m_stale = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    # winner advances the mark
    cow.append(spark, p, spark.createDataFrame([(50, "w")], "k long, v string"))
    m_head = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    assert cow._identity_moved(m_stale, m_head)
    assert not cow._identity_moved(m_head, m_head)


def test_gate_identity_lifecycle(spark, tmp_path):
    p = str(tmp_path / "t")
    run_sql(
        spark,
        f"""CREATE TABLE cow.`{p}` USING cow
            IDENTITY (id START WITH 7 STEP 2)
            AS SELECT CAST(1 AS BIGINT) AS k, 'a' AS v""",
    )
    run_sql(spark, f"INSERT INTO cow.`{p}` VALUES (2, 'b')")
    rows = cow.read(spark, p).collect()
    _contract(rows, start=7, step=2)
    sc = run_sql(spark, f"SHOW CREATE TABLE cow.`{p}`").collect()[0][
        "createtab_stmt"
    ]
    assert "IDENTITY (id START WITH 7 STEP 2)" in sc
    d = {
        r["col_name"]: r["info"]
        for r in run_sql(spark, f"DESCRIBE TABLE cow.`{p}`").collect()
    }
    assert d["id"].startswith("identity (start 7 step 2")


def test_dsv2_writers_refuse_identity_tables(spark, tmp_path):
    from data_warehouse_solution_spark.sources.cow_batch import (
        register_cow_batch,
    )

    register_cow_batch(spark)
    p = str(tmp_path / "t")
    _mk(spark, p)
    with pytest.raises(Exception, match="IDENTITY"):
        (
            spark.createDataFrame([(9, "z")], "k long, v string")
            .write.format("cow")
            .option("tablePath", p)
            .mode("append")
            .save()
        )


def test_replace_where_refuses_explicit_and_allocates(spark, tmp_path):
    p = str(tmp_path / "t")
    _mk(spark, p)
    with pytest.raises(ValueError, match="IDENTITY"):
        cow.replace_where(
            spark, p, "k >= 5",
            spark.createDataFrame([(7, "n", 1)], "k long, v string, id long"),
        )
    cow.replace_where(
        spark, p, "k >= 5",
        spark.createDataFrame([(7, "n")], "k long, v string"),
    )
    rows = cow.read(spark, p).collect()
    _contract(rows)
    assert {r["k"] for r in rows} == {0, 1, 2, 3, 4, 7}


def test_rollback_across_rename_keeps_high_water(spark, tmp_path):
    """r12 review fix: rollback merges identity high-water marks by
    PHYSICAL column name, so a rename between the restore target and
    head cannot silently rewind the counter (re-issuing ids present
    in still-readable newer snapshots)."""
    p = str(tmp_path / "t")
    _mk(spark, p)  # snapshot 1, identity col "id"
    target_snap = cow.current_snapshot(spark, p)
    hw_target = cow._load_manifest(spark, p, target_snap)[
        "identity_columns"]["id"]["high_water"]
    cow.alter_rename_column(spark, p, "id", "rid")  # snapshot 2
    cow.append(  # snapshot 3: allocates ABOVE hw_target under "rid"
        spark, p,
        spark.createDataFrame([(90, "x"), (91, "y")], "k long, v string"),
    )
    hw_head = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))[
        "identity_columns"]["rid"]["high_water"]
    assert hw_head > hw_target
    cow.rollback(spark, p, target_snap)
    m = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    # restored schema uses the target's logical name, but the counter
    # must carry the HEAD mark (matched via the rename-stable
    # physical name), never rewind to the target's
    assert m["identity_columns"]["id"]["high_water"] == hw_head
    cow.append(spark, p, spark.createDataFrame([(99, "z")], "k long, v string"))
    new_id = [
        r["id"] for r in cow.read(spark, p).collect() if r["k"] == 99
    ][0]
    assert new_id > hw_head
