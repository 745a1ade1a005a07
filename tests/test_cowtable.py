"""Copy-on-write table format (`cowtable`): DELETE/UPDATE/MERGE are
real file-level rewrites with snapshot isolation — the invariants:

- DML rewrites ONLY files containing affected rows; untouched files
  appear in the next manifest under the same name (no data movement);
- every snapshot stays readable (time travel) until vacuum;
- results equal the plain-DataFrame equivalents of each statement;
- concurrent committers lose with CowConcurrentWrite, never corrupt.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from data_warehouse_solution_spark import cowtable as cow
from data_warehouse_solution_spark.tables import load_tables

from .conftest import SF_SMOKE


@pytest.fixture()
def orders_table(spark, tmp_path):
    path = str(tmp_path / "orders_cow")
    o = (
        load_tables(spark, SF_SMOKE, ("orders",))["orders"]
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .repartition(6)  # several data files so partial rewrite is observable
    )
    cow.create(spark, path, o)
    return path, o


def _names(spark, path, snap=None):
    m = cow._load_manifest(spark, path, snap or cow.current_snapshot(spark, path))
    return {f["name"] for f in m["files"]}


def test_create_and_read_roundtrip(spark, orders_table):
    path, o = orders_table
    got = cow.read(spark, path)
    assert got.count() == o.count()
    assert got.exceptAll(o).count() == 0 and o.exceptAll(got).count() == 0


def test_delete_rewrites_only_affected_files(spark, orders_table):
    path, o = orders_table
    before = _names(spark, path)
    stats = cow.delete(spark, path, "o_orderstatus = 'F' AND o_totalprice < 50000")
    assert stats["snapshot_id"] == 2
    after = _names(spark, path)
    # untouched files persist under identical names; affected gone
    untouched = before & after
    assert len(untouched) == stats["files_untouched"]
    assert before - after == set() or stats["files_rewritten"] > 0
    expected = o.filter(~((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") < 50000)))
    got = cow.read(spark, path)
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0


def test_delete_nothing_is_noop_snapshot(spark, orders_table):
    path, _ = orders_table
    stats = cow.delete(spark, path, "o_totalprice < 0")
    assert stats["files_rewritten"] == 0
    assert cow.current_snapshot(spark, path) == 1  # no new snapshot


def test_update_matches_dataframe_equivalent(spark, orders_table):
    path, o = orders_table
    cow.update(
        spark,
        path,
        "o_orderstatus = 'O'",
        {"o_orderstatus": "'Z'", "o_totalprice": "o_totalprice * 2"},
    )
    cond = F.col("o_orderstatus") == "O"
    expected = o.select(
        "o_orderkey",
        "o_custkey",
        F.when(cond, F.lit("Z")).otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
        F.when(cond, F.col("o_totalprice") * 2).otherwise(F.col("o_totalprice")).alias(
            "o_totalprice"
        ),
    )
    got = cow.read(spark, path)
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0


def test_merge_upsert_replaces_and_appends(spark, orders_table):
    path, o = orders_table
    source = spark.createDataFrame(
        [(1, 999, "M", 1.5), (-7, 999, "M", 2.5)],
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double",
    )
    stats = cow.merge_upsert(spark, path, source, ["o_orderkey"])
    assert stats["files_rewritten"] >= 1  # key 1 exists somewhere
    got = cow.read(spark, path)
    assert got.count() == o.count() + 1  # one replaced, one appended
    m = {r["o_orderkey"]: r for r in got.filter(F.col("o_custkey") == 999).collect()}
    assert set(m) == {1, -7}
    assert m[1]["o_orderstatus"] == "M" and m[-7]["o_totalprice"] == 2.5


def test_time_travel_and_history(spark, orders_table):
    path, o = orders_table
    n0 = o.count()
    cow.delete(spark, path, "o_orderstatus = 'F'")
    n_del = cow.read(spark, path).count()
    cow.update(spark, path, "o_orderkey % 10 = 0", {"o_totalprice": "0.0"})
    # snapshot 1 still reads the original data
    assert cow.read(spark, path, snapshot=1).count() == n0
    assert cow.read(spark, path, snapshot=2).count() == n_del
    hist = cow.history(spark, path)
    assert [h["operation"] for h in hist] == ["create", "delete", "update"]
    assert hist[0]["n_rows"] == n0 and hist[1]["n_rows"] == n_del


def test_vacuum_keeps_latest_only(spark, orders_table):
    path, _ = orders_table
    cow.delete(spark, path, "o_orderstatus = 'F'")
    latest_count = cow.read(spark, path).count()
    removed = cow.vacuum(spark, path, min_file_age_seconds=0)
    assert removed > 0  # snapshot 1's rewritten-away files are gone
    assert cow.read(spark, path).count() == latest_count


def test_vacuum_age_guard_spares_young_files(spark, orders_table):
    """The concurrent-writer guard: _stage_files lands data files
    BEFORE the manifest commit, so vacuum must not delete young
    unreferenced files (they may belong to an in-flight commit). With
    the default retention window every just-written file survives;
    age 0 then removes them."""
    path, _ = orders_table
    cow.delete(spark, path, "o_orderstatus = 'F'")
    assert cow.vacuum(spark, path) == 0  # all candidates are seconds old
    # data intact, and the un-vacuumed files are orphans at worst
    assert cow.vacuum(spark, path, min_file_age_seconds=0) > 0


def test_vacuum_keep_last_window(spark, orders_table):
    """vacuum(keep_last=N): time travel works within the retention
    window, refuses with a clear error beyond it, rollback works
    within and refuses beyond."""
    path, o = orders_table
    n0 = o.count()
    cow.delete(spark, path, "o_orderstatus = 'F'")  # snap 2
    n2 = cow.read(spark, path).count()
    cow.update(spark, path, "o_orderkey % 2 = 0", {"o_totalprice": "1.0"})  # snap 3
    cow.delete(spark, path, "o_totalprice = 1.0")  # snap 4
    cow.vacuum(spark, path, keep_last=2, min_file_age_seconds=0)
    # within the window: snapshots 3 and 4 still read
    assert cow.read(spark, path, snapshot=3).count() == n2
    n4 = cow.read(spark, path, snapshot=4).count()
    assert cow.read(spark, path).count() == n4
    # beyond it: clear refusal, not a missing-file read error
    with pytest.raises(ValueError, match="expired"):
        cow.read(spark, path, snapshot=1)
    with pytest.raises(ValueError):
        cow.rollback(spark, path, 2)
    # rollback WITHIN the window still works and moves history forward
    assert cow.rollback(spark, path, 3) == 5
    assert cow.read(spark, path).count() == n2
    assert cow.read(spark, path).count() != n0


def test_concurrent_commit_raises(spark, orders_table):
    path, _ = orders_table
    # writer A reads state, writer B commits first, A must fail
    m_stale = cow._load_manifest(spark, path, 1)
    cow.delete(spark, path, "o_orderstatus = 'F'")  # B commits snapshot 2
    with pytest.raises(cow.CowConcurrentWrite):
        cow._rewrite_commit(spark, path, m_stale, set(), None, None, "delete")


def test_manifest_stats_prune_files(spark, tmp_path):
    """Range-partitioned data files have disjoint o_orderkey ranges;
    a key-range DELETE must (a) stat-prune most files before the
    exact scan, (b) still produce the exact relational result."""
    path = str(tmp_path / "ranged_cow")
    o = (
        load_tables(spark, SF_SMOKE, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartitionByRange(8, "o_orderkey")
    )
    cow.create(spark, path, o)
    m = cow._load_manifest(spark, path, 1)
    assert all(f["stats"].get("o_orderkey") for f in m["files"])
    max_key = o.agg(F.max("o_orderkey")).collect()[0][0]
    cond = f"o_orderkey > {int(max_key) - 5}"
    candidates = cow.stats_candidate_files(m, cond)
    assert 0 < len(candidates) < len(m["files"])  # pruning really happened
    stats = cow.delete(spark, path, cond)
    assert stats["files_rewritten"] <= len(candidates)
    expected = o.filter(f"NOT ({cond})")
    got = cow.read(spark, path)
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0


def test_unparseable_predicate_prunes_nothing_but_stays_exact(spark, tmp_path):
    path = str(tmp_path / "complex_cow")
    o = load_tables(spark, SF_SMOKE, ("orders",))["orders"].select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).repartition(4)
    cow.create(spark, path, o)
    cond = "(o_orderkey % 13 = 0 OR o_totalprice < 2000)"
    m = cow._load_manifest(spark, path, 1)
    assert len(cow.stats_candidate_files(m, cond)) == len(m["files"])  # no pruning
    cow.delete(spark, path, cond)
    expected = o.filter(f"NOT {cond}")
    got = cow.read(spark, path)
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0


def test_compact_preserves_content_and_reduces_files(spark, orders_table):
    path, o = orders_table
    cow.delete(spark, path, "o_orderstatus = 'F'")
    before_files = len(_names(spark, path))
    stats = cow.compact(spark, path, target_files=2)
    assert stats["files_written"] <= 2 < before_files
    expected = o.filter(F.col("o_orderstatus") != "F")
    got = cow.read(spark, path)
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0
    assert cow.history(spark, path)[-1]["operation"] == "compact"


def test_stream_upsert_to_cow_table(spark, tmp_path):
    """foreachBatch + merge_upsert: replaying the events fixture as
    micro-batches (one file per epoch, overlapping keys across
    epochs) must leave the COW table holding exactly the distinct
    key set — each epoch one atomic snapshot."""
    import shutil

    from data_warehouse_solution_spark.streaming.streams import (
        stream_upsert_to_cow_table,
    )
    from data_warehouse_solution_spark.tables import table_path as tp

    src = tmp_path / "incoming"
    src.mkdir()
    shutil.copy(tp(SF_SMOKE, "events"), src / "e1.parquet")
    # second epoch re-delivers the same keys (at-least-once delivery)
    shutil.copy(tp(SF_SMOKE, "events"), src / "e2.parquet")
    table = str(tmp_path / "events_cow")

    stats = stream_upsert_to_cow_table(spark, str(src), table, key="event_id")
    assert [s["operation"] for s in stats] == ["create", "merge"]
    ev = load_tables(spark, SF_SMOKE, ("events",))["events"]
    got = cow.read(spark, table)
    assert got.count() == ev.dropDuplicates(["event_id"]).count()
    # snapshot history: one create + one merge, both readable
    assert [h["operation"] for h in cow.history(spark, table)] == ["create", "merge"]
    assert cow.read(spark, table, snapshot=1).count() == got.count()


def test_alter_add_column_metadata_only_and_merge_evolved(spark, tmp_path):
    """Schema evolution: ADD COLUMN commits metadata only (same data
    files), old files read the new column as NULL, old snapshots keep
    the old schema, and a merge with evolved-schema rows works."""
    path = str(tmp_path / "evolving_cow")
    o = (
        load_tables(spark, SF_SMOKE, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus")
        .repartition(3)
    )
    cow.create(spark, path, o)
    files_before = _names(spark, path)
    cow.alter_add_column(spark, path, "priority", "int")
    assert _names(spark, path) == files_before  # metadata-only commit
    got = cow.read(spark, path)
    assert got.columns == ["o_orderkey", "o_orderstatus", "priority"]
    assert got.filter(F.col("priority").isNotNull()).count() == 0
    # time travel: snapshot 1 predates the column
    assert cow.read(spark, path, snapshot=1).columns == ["o_orderkey", "o_orderstatus"]
    # merge rows that USE the new column
    src = spark.createDataFrame(
        [(1, "E", 9), (-50, "E", 7)], "o_orderkey long, o_orderstatus string, priority int"
    )
    cow.merge_upsert(spark, path, src, ["o_orderkey"])
    final = cow.read(spark, path)
    assert final.count() == o.count() + 1
    evolved = {r["o_orderkey"]: r["priority"] for r in final.filter("priority IS NOT NULL").collect()}
    assert evolved == {1: 9, -50: 7}


def test_cow_read_keeps_pushdown_and_pruning(spark, orders_table):
    """Reading a snapshot (explicit file list + manifest schema) must
    not cost Catalyst anything: filters still reach the parquet scan
    and unused columns are pruned."""
    from data_warehouse_solution_spark.plans import plan_summary

    path, _ = orders_table
    s = plan_summary(
        cow.read(spark, path).filter("o_totalprice > 100000").select("o_orderkey")
    )
    assert any("o_totalprice" in p for p in s["pushed_filters"]), s
    assert all("o_orderstatus" not in rs for rs in s["read_schemas"]), s


def test_randomized_dml_sequence_matches_dataframe_replay(spark, tmp_path):
    """Seeded random DELETE/UPDATE/MERGE sequence applied to the COW
    table and replayed on a plain DataFrame must agree after every
    step — the cumulative-state differential the fixed-sequence
    oracle can't give."""
    import random

    rng = random.Random(7)
    path = str(tmp_path / "fuzz_cow")
    df = (
        load_tables(spark, SF_SMOKE, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
    )
    cow.create(spark, path, df)
    expected = df
    for step in range(5):
        op = rng.choice(["delete", "update", "merge"])
        if op == "delete":
            mod, rem = rng.randrange(3, 9), rng.randrange(0, 3)
            cond = f"o_orderkey % {mod} = {rem}"
            cow.delete(spark, path, cond)
            expected = expected.filter(f"NOT ({cond})")
        elif op == "update":
            mod, rem = rng.randrange(3, 9), rng.randrange(0, 3)
            price = float(rng.randrange(1, 500))
            cond = f"o_orderkey % {mod} = {rem}"
            cow.update(spark, path, cond, {"o_totalprice": str(price)})
            expected = expected.selectExpr(
                "o_orderkey",
                "o_orderstatus",
                f"CASE WHEN {cond} THEN CAST({price} AS DOUBLE)"
                " ELSE o_totalprice END AS o_totalprice",
            )
        else:
            keys = [rng.randrange(-10, 3000) for _ in range(4)]
            src = spark.createDataFrame(
                [(k, "U", -1.0) for k in set(keys)],
                "o_orderkey long, o_orderstatus string, o_totalprice double",
            )
            cow.merge_upsert(spark, path, src, ["o_orderkey"])
            expected = expected.join(
                src.select("o_orderkey"), "o_orderkey", "left_anti"
            ).unionByName(src)
        got = cow.read(spark, path)
        assert got.count() == expected.count(), (step, op)
        assert got.exceptAll(expected).count() == 0, (step, op)
        assert expected.exceptAll(got).count() == 0, (step, op)


def test_evolved_column_survives_dml_and_compact(spark, tmp_path):
    """Regression: every internal read must project through the
    manifest schema. A bare spark.read.parquet samples one footer, so
    after ADD COLUMN an UPDATE could not SET the new column and
    compact() could silently DROP it (data loss) whenever the sampled
    footer predated the evolution."""
    path = str(tmp_path / "evolve_dml_cow")
    o = (
        load_tables(spark, SF_SMOKE, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus")
        .repartition(3)
    )
    cow.create(spark, path, o)
    cow.alter_add_column(spark, path, "priority", "int")
    # UPDATE both an old column and the NEW column, predicate on old
    cow.update(spark, path, "o_orderkey % 5 = 0", {"priority": "42", "o_orderstatus": "'P'"})
    got = cow.read(spark, path)
    n_upd = got.filter("priority = 42 AND o_orderstatus = 'P'").count()
    assert n_upd == o.filter("o_orderkey % 5 = 0").count() > 0
    # DELETE with a predicate on the evolved column
    cow.delete(spark, path, "priority = 42")
    assert cow.read(spark, path).filter("priority IS NOT NULL").count() == 0
    # compact must keep the evolved column in the rewritten files
    cow.compact(spark, path, target_files=1)
    final = cow.read(spark, path)
    assert final.columns == ["o_orderkey", "o_orderstatus", "priority"]
    assert final.count() == o.count() - n_upd


def test_drop_column_metadata_only_and_time_travel(spark, orders_table):
    path, o = orders_table
    files_before = _names(spark, path)
    cow.alter_drop_column(spark, path, "o_orderstatus")
    assert _names(spark, path) == files_before  # no rewrite
    got = cow.read(spark, path)
    assert "o_orderstatus" not in got.columns
    assert got.count() == o.count()
    # earlier snapshot still shows the column
    assert "o_orderstatus" in cow.read(spark, path, snapshot=1).columns
    with pytest.raises(ValueError):
        cow.alter_drop_column(spark, path, "nope")


def test_merge_disjoint_key_range_scans_zero_files(spark, tmp_path):
    """The 100 TB upsert shape: time-ordered keys mean a merge's
    source keys live beyond every existing file's range — manifest
    stats must refute every file, so the exact semi-join scan opens
    ZERO data files and the merge is pure append."""
    path = str(tmp_path / "merge_prune_cow")
    o = (
        load_tables(spark, SF_SMOKE, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartitionByRange(6, "o_orderkey")
    )
    cow.create(spark, path, o)
    max_key = o.agg(F.max("o_orderkey")).collect()[0][0]
    src = spark.createDataFrame(
        [(int(max_key) + 10, "N", 1.0), (int(max_key) + 20, "N", 2.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    stats = cow.merge_upsert(spark, path, src, ["o_orderkey"])
    assert stats["files_scanned"] == 0  # no candidate survived the stats
    assert stats["files_rewritten"] == 0
    assert cow.read(spark, path).count() == o.count() + 2
    # overlapping keys still rewrite (pruning is a superset, not a skip)
    src2 = spark.createDataFrame(
        [(1, "M", 9.0)], "o_orderkey long, o_orderstatus string, o_totalprice double"
    )
    stats2 = cow.merge_upsert(spark, path, src2, ["o_orderkey"])
    assert stats2["files_scanned"] >= 1
    assert 0 < stats2["files_scanned"] < len(
        cow._load_manifest(spark, path, 2)["files"]
    )  # stats bounded the scan to the one file range holding key 1


def test_merge_casts_source_to_manifest_schema(spark, tmp_path):
    """A source with NARROWER types (int/float where the table holds
    bigint/double) must be cast through the manifest schema before
    writing, or later manifest-schema reads of the new files hit
    parquet physical-type conversion errors."""
    path = str(tmp_path / "merge_cast_cow")
    o = load_tables(spark, SF_SMOKE, ("orders",))["orders"].select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    cow.create(spark, path, o)
    src = spark.createDataFrame(
        [(1, "M", 1.5), (-3, "M", 2.5)],
        "o_orderkey int, o_orderstatus string, o_totalprice float",
    )
    cow.merge_upsert(spark, path, src, ["o_orderkey"])
    got = cow.read(spark, path)
    assert dict(got.dtypes)["o_orderkey"] == "bigint"
    merged = {r["o_orderkey"] for r in got.filter("o_orderstatus = 'M'").collect()}
    assert merged == {1, -3}
    assert got.count() == o.count() + 1


def test_append_commits_new_files_only(spark, orders_table):
    """INSERT INTO as a snapshot commit: every pre-existing file keeps
    its name (nothing read or rewritten), new rows land in new files,
    schema columns missing from the input read as NULL."""
    path, o = orders_table
    before = _names(spark, path)
    rows = spark.createDataFrame(
        [(-201, "I", 5.0), (-202, "I", 6.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )  # o_custkey intentionally absent
    stats = cow.append(spark, path, rows)
    assert stats["files_rewritten"] == 0 and stats["files_written"] >= 1
    after = _names(spark, path)
    assert before <= after  # strictly additive
    got = cow.read(spark, path)
    assert got.count() == o.count() + 2
    ins = got.filter("o_orderkey < -200")
    assert ins.count() == 2
    assert ins.filter("o_custkey IS NULL").count() == 2
    assert cow.history(spark, path)[-1]["operation"] == "append"
    # time travel: the pre-append snapshot is intact
    assert cow.read(spark, path, snapshot=1).count() == o.count()


def test_alter_add_columns_multi_and_collisions(spark, tmp_path):
    """Multi-column ADD COLUMNS evolves the schema atomically; a
    collision on ANY name (including within the list itself) refuses
    the whole commit; nested type commas don't split."""
    path = str(tmp_path / "alter_multi_cow")
    o = load_tables(spark, SF_SMOKE, ("orders",))["orders"].select(
        "o_orderkey", "o_orderstatus"
    )
    cow.create(spark, path, o)
    cow.alter_add_columns(spark, path, "tags map<string,int>, score decimal(10,2)")
    got = cow.read(spark, path)
    assert got.columns == ["o_orderkey", "o_orderstatus", "tags", "score"]
    assert dict(got.dtypes)["tags"] == "map<string,int>"
    assert dict(got.dtypes)["score"] == "decimal(10,2)"
    snap_before = cow.current_snapshot(spark, path)
    with pytest.raises(ValueError, match="already exists"):
        cow.alter_add_columns(spark, path, "fresh int, o_orderstatus string")
    with pytest.raises(ValueError, match="already exists"):
        cow.alter_add_columns(spark, path, "dup int, dup string")
    assert cow.current_snapshot(spark, path) == snap_before  # nothing committed


def _dated_df(spark):
    import datetime as dt

    rows = [
        (i, dt.date(2024, 1, 1 + i % 4), float(i % 10), f"n{i % 5}") for i in range(400)
    ]
    return spark.createDataFrame(rows, "k long, d date, price double, note string")


def test_partitioned_create_layout_and_pruning(spark, tmp_path):
    """Hive-style partition layout: every data file belongs to ONE
    partition (entries carry the value), files live under col=value/
    dirs, and a partition-key predicate stat-prunes to that
    partition's files before any data is read — the 100 TB
    date-partitioned fact-table shape."""
    path = str(tmp_path / "part_cow")
    df = _dated_df(spark)
    cow.create(spark, path, df, partition_by=["d"])
    m = cow._load_manifest(spark, path, 1)
    assert m["partition_by"] == ["d"]
    assert all("/" in f["name"] and f["name"].startswith("d=") for f in m["files"])
    assert all(f["partition"]["d"] == f["name"].split("=")[1].split("/")[0] for f in m["files"])
    # date stats are ISO strings: binary order == date order
    assert all(f["stats"]["d"][0] == f["stats"]["d"][1] == f["partition"]["d"] for f in m["files"])
    # a partition-key equality prunes to exactly that partition's files
    cands = cow.stats_candidate_files(m, "d = '2024-01-03'")
    assert 0 < len(cands) < len(m["files"])
    assert all(c["partition"]["d"] == "2024-01-03" for c in cands)
    # a date RANGE also prunes (lexicographic ISO compare)
    cands2 = cow.stats_candidate_files(m, "d >= '2024-01-04'")
    assert all(c["partition"]["d"] == "2024-01-04" for c in cands2)
    # non-canonical literal: conservative, prunes nothing, stays exact
    assert len(cow.stats_candidate_files(m, "d = '2024-1-3'")) == len(m["files"])
    # read-back round-trips with partition columns re-injected
    got = cow.read(spark, path)
    assert dict(got.dtypes)["d"] == "date"
    assert got.count() == df.count()
    assert got.exceptAll(df).count() == 0


def test_partitioned_dml_rewrites_only_that_partition(spark, tmp_path):
    path = str(tmp_path / "part_dml_cow")
    df = _dated_df(spark)
    cow.create(spark, path, df, partition_by=["d"])
    m1 = cow._load_manifest(spark, path, 1)
    other = {f["name"] for f in m1["files"] if f["partition"]["d"] != "2024-01-02"}
    stats = cow.delete(spark, path, "d = '2024-01-02' AND price >= 5.0")
    assert stats["files_rewritten"] >= 1
    m2 = cow._load_manifest(spark, path, 2)
    assert other <= {f["name"] for f in m2["files"]}  # other partitions untouched
    expected = df.filter("NOT (d = '2024-01-02' AND price >= 5.0)")
    got = cow.read(spark, path)
    assert got.count() == expected.count()
    assert got.exceptAll(expected).count() == 0
    # UPDATE that MOVES rows across partitions: rewritten rows land in
    # the new partition's directory
    cow.update(spark, path, "d = '2024-01-01' AND k % 2 = 0", {"d": "DATE '2024-02-01'"})
    m3 = cow._load_manifest(spark, path, 3)
    assert any(f["partition"]["d"] == "2024-02-01" for f in m3["files"])
    moved = cow.read(spark, path).filter("d = DATE '2024-02-01'").count()
    assert moved == df.filter("d = '2024-01-01' AND k % 2 = 0").count() > 0
    # append keeps the layout; merge prunes by key envelope as before
    import datetime as dt

    extra = spark.createDataFrame(
        [(9001, dt.date(2024, 3, 1), 1.0, "x")], "k long, d date, price double, note string"
    )
    cow.append(spark, path, extra)
    m4 = cow._load_manifest(spark, path, 4)
    assert any(f["partition"]["d"] == "2024-03-01" for f in m4["files"])
    # vacuum recurses into partition dirs
    removed = cow.vacuum(spark, path, min_file_age_seconds=0)
    assert removed > 0
    # latest snapshot intact after vacuum: deletes survived + the append
    assert cow.read(spark, path).count() == expected.count() + 1


def test_rollback_restores_state_and_keeps_history_forward(spark, orders_table):
    path, o = orders_table
    n0 = o.count()
    cow.delete(spark, path, "o_orderstatus = 'F'")
    cow.update(spark, path, "o_orderkey % 2 = 0", {"o_totalprice": "0.0"})
    assert cow.read(spark, path).count() < n0
    snap = cow.rollback(spark, path, 1)
    assert snap == 4  # history moved FORWARD
    restored = cow.read(spark, path)
    assert restored.count() == n0
    assert restored.exceptAll(o).count() == 0
    # rolled-over snapshots remain readable
    assert cow.read(spark, path, snapshot=3).count() < n0
    # vacuum then rollback to a vacuumed snapshot must refuse
    cow.delete(spark, path, "o_orderstatus = 'O'")
    cow.vacuum(spark, path)
    with pytest.raises(ValueError):
        cow.rollback(spark, path, 2)


# -- per-file Bloom filters -------------------------------------------------


def test_xxh64_python_parity_with_spark(spark):
    """The driver-side literal probe must produce the SAME bit
    positions the JVM staging aggregate produced, or bloom pruning
    would be unsound. Covers every XXH64 length regime (empty, <4,
    <8, 8..31 with 4-byte tail, >=32 stripes) plus multi-byte UTF-8."""
    from data_warehouse_solution_spark.hashing import bloom_positions

    vals = [
        "", "a", "ab", "abc", "abcd", "hello!!", "x" * 8, "y" * 15,
        "z" * 31, "w" * 32, "v" * 33, "u" * 100, "é-字-𐍈", "123", "-45",
        "it's quoted", " spaced ",
    ]
    df = spark.createDataFrame([(v,) for v in vals], "s string")
    exprs = [
        F.pmod(
            F.xxhash64(F.lit(i).cast("long"), F.col("s").cast("string")),
            F.lit(cow.BLOOM_M_BITS),
        ).alias(f"h{i}")
        for i in range(cow.BLOOM_K)
    ]
    for row in df.select("s", *exprs).collect():
        expect = bloom_positions(row["s"], cow.BLOOM_M_BITS, cow.BLOOM_K)
        got = [row[f"h{i}"] for i in range(cow.BLOOM_K)]
        assert got == expect, row["s"]


@pytest.fixture()
def bloom_table(spark, tmp_path):
    """8 files of a high-cardinality UNORDERED string key: every
    file's [min, max] spans ~the whole hex domain, so min/max stats
    can never prune an equality probe — only the bloom can."""
    path = str(tmp_path / "bloom_cow")
    df = (
        spark.range(4000)
        .select(
            F.col("id"),
            F.sha2(F.col("id").cast("string"), 256).alias("k"),
            (F.col("id") % 100).alias("v"),
        )
        .repartition(8)
    )
    cow.create(spark, path, df, bloom_columns=["k"])
    return path


def test_bloom_prunes_absent_point_delete_to_zero_files(spark, bloom_table):
    m = cow._load_manifest(spark, bloom_table, 1)
    assert all(f.get("blooms", {}).get("k") for f in m["files"])
    absent = "deadbeef" * 8
    assert cow.stats_candidate_files(m, f"k = '{absent}'") == []
    res = cow.delete(spark, bloom_table, f"k = '{absent}'")
    assert res["files_rewritten"] == 0
    # min/max alone could NOT have pruned this (key spans the domain)
    no_bloom = [{**f, "blooms": {}} for f in m["files"]]
    assert cow.stats_candidate_files(
        {**m, "files": no_bloom}, f"k = '{absent}'"
    ), "fixture too easy: min/max already pruned the probe"


def test_bloom_present_key_survives_and_deletes_one_file(spark, bloom_table):
    import hashlib

    present = hashlib.sha256(b"1234").hexdigest()
    m = cow._load_manifest(spark, bloom_table, 1)
    cands = cow.stats_candidate_files(m, f"k = '{present}'")
    assert 1 <= len(cands) <= 2  # the holder (+ rare false positives)
    res = cow.delete(spark, bloom_table, f"k = '{present}'")
    assert res["files_rewritten"] == 1
    assert cow.read(spark, bloom_table).count() == 3999


def test_bloom_soundness_every_key_found(spark, bloom_table):
    """No false negatives, exhaustively: every one of the 4000 keys'
    candidate set includes the file that holds it."""
    import hashlib

    m = cow._load_manifest(spark, bloom_table, 1)
    holder = {}
    for f in m["files"]:
        df = cow._read_files(spark, bloom_table, m, [f["name"]])
        for r in df.select("k").collect():
            holder[r["k"]] = f["name"]
    for i in range(0, 4000, 37):
        k = hashlib.sha256(str(i).encode()).hexdigest()
        names = {f["name"] for f in cow.stats_candidate_files(m, f"k = '{k}'")}
        assert holder[k] in names, k


def test_bloom_int_key_and_carry_through_dml(spark, tmp_path):
    """Integer bloom columns probe via their string form; rewritten
    and appended files keep getting filters; DROP COLUMN removes the
    declaration."""
    path = str(tmp_path / "bloom_int")
    df = spark.range(2000).select(
        (F.col("id") * 2654435761 % 1000003).alias("k"), F.col("id").alias("v")
    ).repartition(4)
    cow.create(spark, path, df, bloom_columns=["k"])
    some_k = df.limit(1).collect()[0]["k"]
    cow.update(spark, path, f"k = {some_k}", {"v": "-1"})
    cow.append(spark, path, spark.createDataFrame([(7, 7)], "k long, v long"))
    m = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    assert m["bloom_columns"] == ["k"]
    assert all(f.get("blooms", {}).get("k") for f in m["files"])
    # the appended value is findable through the bloom path
    assert any(
        f["rows"] == 1 for f in cow.stats_candidate_files(m, "k = 7")
    )
    cow.alter_drop_column(spark, path, "k")
    m2 = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    assert m2["bloom_columns"] == []


def test_bloom_saturation_gate(spark, tmp_path):
    """A file holding far more distincts than the filter can usefully
    encode gets NO bloom entry (dead weight at FPP ~1) — one file,
    >> M/8 distinct keys."""
    path = str(tmp_path / "bloom_sat")
    n = cow.BLOOM_M_BITS // 8 * 3
    df = spark.range(n).select(
        F.sha2(F.col("id").cast("string"), 256).alias("k")
    ).coalesce(1)
    cow.create(spark, path, df, bloom_columns=["k"])
    m = cow._load_manifest(spark, path, 1)
    assert all("blooms" not in f or "k" not in f["blooms"] for f in m["files"])
    # pruning degrades to "cannot exclude", never to wrong answers —
    # probe INSIDE the hex min/max range so only a bloom could prune
    assert len(cow.stats_candidate_files(m, f"k = '{'a' * 64}'")) == len(m["files"])


# -- replace_where (overwrite-by-filter) ------------------------------------


def test_replace_where_is_one_atomic_commit(spark, tmp_path):
    """Reload 'one day' (here: one status class) in a single commit:
    matching rows replaced, everything else untouched, snapshot count
    +1 (a DELETE+INSERT pair would publish an intermediate gap)."""
    path = str(tmp_path / "rw_cow")
    o = (
        load_tables(spark, SF_SMOKE, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(6)
    )
    cow.create(spark, path, o)
    new_f = (
        o.filter(F.col("o_orderstatus") == "F")
        .limit(10)
        .withColumn("o_totalprice", F.lit(1.0))
    )
    stats = cow.replace_where(spark, path, "o_orderstatus = 'F'", new_f)
    assert cow.current_snapshot(spark, path) == 2  # ONE commit
    got = cow.read(spark, path)
    assert got.filter("o_orderstatus = 'F'").count() == 10
    assert got.filter("o_orderstatus = 'F'").agg(F.max("o_totalprice")).collect()[0][0] == 1.0
    n_other = o.filter("o_orderstatus <> 'F'").count()
    assert got.filter("o_orderstatus <> 'F'").count() == n_other
    assert stats["files_rewritten"] >= 1


def test_replace_where_validates_incoming_rows(spark, tmp_path):
    path = str(tmp_path / "rw_val")
    o = load_tables(spark, SF_SMOKE, ("orders",))["orders"].select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    cow.create(spark, path, o.limit(100))
    smuggle = o.limit(5).withColumn("o_orderstatus", F.lit("P"))
    with pytest.raises(ValueError, match="violate"):
        cow.replace_where(spark, path, "o_orderstatus = 'F'", smuggle)
    # escape hatch mirrors Delta's
    cow.replace_where(spark, path, "o_orderstatus = 'F'", smuggle, validate=False)


def test_replace_where_prunes_to_matching_partition(spark, tmp_path):
    """On a partitioned table the predicate prunes via partition
    values: replacing one partition rewrites ONLY its files."""
    path = str(tmp_path / "rw_part")
    o = (
        load_tables(spark, SF_SMOKE, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(4)
    )
    cow.create(spark, path, o, partition_by=["o_orderstatus"])
    m1 = cow._load_manifest(spark, path, 1)
    f_files = {f["name"] for f in m1["files"] if f["partition"]["o_orderstatus"] == "F"}
    other = len(m1["files"]) - len(f_files)
    new_f = o.filter("o_orderstatus = 'F'").limit(3)
    stats = cow.replace_where(spark, path, "o_orderstatus = 'F'", new_f)
    assert stats["files_rewritten"] == len(f_files)
    assert stats["files_untouched"] == other


def test_replace_where_through_the_gate(spark, tmp_path):
    from data_warehouse_solution_spark.sql_gate import run_sql

    path = str(tmp_path / "rw_gate")
    o = load_tables(spark, SF_SMOKE, ("orders",))["orders"].select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    cow.create(spark, path, o.limit(200))
    run_sql(
        spark,
        f"INSERT INTO `{path}` REPLACE WHERE o_orderstatus = 'Z' "
        "VALUES (CAST(-1 AS BIGINT), 'Z', 9.9), (CAST(-2 AS BIGINT), 'Z', 8.8)",
    )
    got = cow.read(spark, path)
    assert got.filter("o_orderstatus = 'Z'").count() == 2
    assert got.count() == 202  # nothing matched 'Z' before: pure append
    # quoted literal containing the payload keyword must not split
    run_sql(
        spark,
        f"INSERT INTO `{path}` REPLACE WHERE o_orderstatus = 'Z' "
        "SELECT CAST(-3 AS BIGINT), 'Z', 7.7",
    )
    assert cow.read(spark, path).filter("o_orderstatus = 'Z'").count() == 1


def test_footer_stats_equal_aggregate_stats(spark, tmp_path, monkeypatch):
    """The parquet-footer stats fast path must produce the SAME
    manifest entries (rows, min/max, null counts) as the distributed
    aggregate it replaced — same data staged through both paths."""
    o = (
        load_tables(spark, SF_SMOKE, ("orders",))["orders"]
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 11 == 0, F.lit(None)).otherwise(
                F.col("o_orderstatus")
            ),
        )
        .repartition(5)
    )
    p_fast = str(tmp_path / "fast")
    cow.create(spark, p_fast, o)
    p_slow = str(tmp_path / "slow")
    monkeypatch.setattr(cow, "_footer_stats", lambda *a, **k: None)
    cow.create(spark, p_slow, o)

    def _norm(path):
        m = cow._load_manifest(spark, path, 1)
        return sorted(
            (f["rows"], sorted(f["stats"].items()), sorted(f["nulls"].items()))
            for f in m["files"]
        )

    assert _norm(p_fast) == _norm(p_slow)


def test_footer_stats_fall_back_on_nested_schema(spark, tmp_path):
    """A struct column's footer null counts are leaf-level — the fast
    path must refuse and the aggregate must still record correct
    TOP-LEVEL null counts for the nested column."""
    df = spark.createDataFrame(
        [(1, {"a": 1}), (2, None), (3, {"a": 3})],
        "k long, s struct<a: long>",
    ).coalesce(1)
    path = str(tmp_path / "nested")
    cow.create(spark, path, df)
    m = cow._load_manifest(spark, path, 1)
    [entry] = m["files"]
    assert entry["nulls"] == {"s": 1}  # top-level row null, not leaf
    assert entry["stats"]["k"] == [1, 3]


def test_append_txn_replay_guard_single_effect(spark, tmp_path):
    """A retried append carrying the same (txn_app_id, txn_version) —
    the caller crashed AFTER the commit succeeded but BEFORE its
    return, then re-ran the batch — must commit nothing: single
    table effect, Delta's txnAppId/txnVersion semantics."""
    path = str(tmp_path / "txn")
    cow.create(spark, path, spark.createDataFrame([(0, "z")], "k long, v string"))
    rows = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    st = cow.append(spark, path, rows, txn_app_id="job", txn_version=0)
    assert st["files_written"] > 0 and "replayed" not in st
    snap_after = cow.current_snapshot(spark, path)
    # the retry may even carry different (re-computed) rows; the
    # version says it's the same logical batch
    retry = cow.append(
        spark,
        path,
        spark.createDataFrame([(1, "a")], "k long, v string"),
        txn_app_id="job",
        txn_version=0,
    )
    assert retry["replayed"] is True and retry["files_written"] == 0
    assert cow.current_snapshot(spark, path) == snap_after
    assert cow.read(spark, path).count() == 3
    # the NEXT version commits normally
    st2 = cow.append(spark, path, rows, txn_app_id="job", txn_version=1)
    assert "replayed" not in st2
    assert cow.read(spark, path).count() == 5
    # a different app id is an independent writer: same version lands
    st3 = cow.append(spark, path, rows, txn_app_id="other", txn_version=0)
    assert "replayed" not in st3
    assert cow.read(spark, path).count() == 7


def test_append_txn_map_survives_other_verbs_and_vacuum(spark, tmp_path):
    """The manifest txn map is inherited through unrelated commits
    (DELETE, OPTIMIZE) and survives vacuum — replay evidence must not
    expire with old manifests."""
    path = str(tmp_path / "txn2")
    cow.create(spark, path, spark.createDataFrame([(0, "z")], "k long, v string"))
    rows = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    cow.append(spark, path, rows, txn_app_id="job", txn_version=4)
    cow.delete(spark, path, "k = 2")
    cow.compact(spark, path, target_files=1)
    cow.vacuum(spark, path, keep_last=1, min_file_age_seconds=0)
    retry = cow.append(spark, path, rows, txn_app_id="job", txn_version=4)
    assert retry["replayed"] is True
    assert cow.read(spark, path).count() == 2  # (0,z) + (1,a)
    # half-specified txn identity is a usage error, not a silent append
    with pytest.raises(ValueError, match="together"):
        cow.append(spark, path, rows, txn_app_id="job")


def test_append_txn_race_detected_after_staging(spark, tmp_path, monkeypatch):
    """A rival writer of the SAME app committing the same version
    WHILE this append is staging: the retry loop must detect the
    replay on head reload, delete its duplicate staged files, and
    report replayed instead of double-committing."""
    import glob
    import os

    path = str(tmp_path / "race")
    cow.create(spark, path, spark.createDataFrame([(0, "z")], "k long, v string"))
    rows = spark.createDataFrame([(1, "a")], "k long, v string")

    real_stage = cow._stage_files
    fired = {"done": False}

    def stage_then_rival(*a, **kw):
        entries = real_stage(*a, **kw)
        if not fired["done"]:
            fired["done"] = True
            # rival commits (app, 9) between our staging and commit
            monkeypatch.setattr(cow, "_stage_files", real_stage)
            st = cow.append(
                spark,
                path,
                spark.createDataFrame([(2, "b")], "k long, v string"),
                txn_app_id="app",
                txn_version=9,
            )
            assert "replayed" not in st
            monkeypatch.setattr(cow, "_stage_files", stage_then_rival)
        return entries

    monkeypatch.setattr(cow, "_stage_files", stage_then_rival)
    st = cow.append(spark, path, rows, txn_app_id="app", txn_version=9)
    assert st["replayed"] is True
    # single effect: only the rival's row landed
    assert {tuple(r) for r in cow.read(spark, path).collect()} == {(0, "z"), (2, "b")}
    # and the loser's staged duplicates were deleted from data/
    files_on_disk = {os.path.basename(p) for p in glob.glob(os.path.join(path, "data", "*"))}
    m = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    referenced = {f["name"] for f in m["files"]}
    assert files_on_disk == referenced, files_on_disk - referenced


# --- OPTIMIZE ... WHERE (r11 late): partition-scoped compaction -----


def test_compact_where_scopes_to_matching_partitions(spark, tmp_path):
    p = str(tmp_path / "optw")
    df = spark.createDataFrame(
        [(i, ["a", "b"][i % 2]) for i in range(10)], "k long, ds string"
    ).repartition(4)
    cow.create(spark, p, df, partition_by=["ds"])
    for i in range(3):
        cow.append(
            spark, p,
            spark.createDataFrame([(100 + i, "a")], "k long, ds string"),
        )
    m0 = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    b_before = sorted(f["name"] for f in m0["files"] if "ds=b" in f["name"])
    st = cow.compact(spark, p, target_files=1, where="ds = 'a'")
    m1 = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    assert sum(1 for f in m1["files"] if "ds=a" in f["name"]) == 1
    # non-matching partitions byte-identical (untouched, not rewritten)
    assert sorted(f["name"] for f in m1["files"] if "ds=b" in f["name"]) == b_before
    assert st["files_rewritten"] == len(m0["files"]) - len(b_before)
    got = sorted(r["k"] for r in cow.read(spark, p).collect())
    assert got == sorted(list(range(10)) + [100, 101, 102])


def test_compact_where_refusals_and_noop(spark, tmp_path):
    import pytest as _pt

    p = str(tmp_path / "optw2")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, ds string")
    cow.create(spark, p, df, partition_by=["ds"])
    with _pt.raises(ValueError, match="partition columns"):
        cow.compact(spark, p, where="k = 1")  # data column
    st = cow.compact(spark, p, where="ds = 'zzz'")
    assert st["files_rewritten"] == 0  # no match: no-op, no snapshot burn
    p2 = str(tmp_path / "optw3")
    cow.create(spark, p2, spark.createDataFrame([(1,)], "k long"))
    with _pt.raises(ValueError, match="partitioned table"):
        cow.compact(spark, p2, where="k = 1")


def test_compact_where_materializes_dvs_only_in_scope(spark, tmp_path):
    p = str(tmp_path / "optw4")
    df = spark.createDataFrame(
        [(i, ["a", "b"][i % 2]) for i in range(10)], "k long, ds string"
    ).coalesce(1)  # one multi-row file per partition, so deletes MASK
    cow.create(spark, p, df, partition_by=["ds"], write_mode="mor")
    cow.delete(spark, p, "k = 0")  # DV in ds=a
    cow.delete(spark, p, "k = 1")  # DV in ds=b
    cow.compact(spark, p, target_files=1, where="ds = 'a'")
    m = cow._load_manifest(spark, p, cow.current_snapshot(spark, p))
    # scope's DV materialized away; out-of-scope DV still live
    assert not any(
        f.get("dv") for f in m["files"] if "ds=a" in f["name"]
    )
    assert any(f.get("dv") for f in m["files"] if "ds=b" in f["name"])
    got = sorted(r["k"] for r in cow.read(spark, p).collect())
    assert got == list(range(2, 10))


def test_overlap_jobs_runs_serially_on_caller_when_pin_fails():
    """No active-session pin means Data Source lookups could fail on
    pool threads: the thunks must then run in order on the caller's
    thread, never concurrently."""
    import threading

    from data_warehouse_solution_spark.plans import overlap_jobs

    class _NoClassicJvm:
        def __getattr__(self, name):
            raise RuntimeError("no classic SparkSession")

    class _Session:
        _jvm = _NoClassicJvm()
        _jsparkSession = None

    calls = []

    def thunk(i):
        def run():
            calls.append((i, threading.get_ident()))
            return i * 10

        return run

    assert overlap_jobs(_Session(), thunk(1), thunk(2), thunk(3)) == [10, 20, 30]
    caller = threading.get_ident()
    assert calls == [(1, caller), (2, caller), (3, caller)]
