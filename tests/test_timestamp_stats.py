"""Timestamp min/max file stats (r12): time-range pruning on
timestamp columns — the dominant 100 TB scan/DML pattern on event
tables — previously recorded NO stats (timestamps were excluded from
_STATS_TYPES because 'T'-separated isoformat strings compare
inconsistently against SQL literals). Stats now serialize to a
CANONICAL form (UTC-naive, space-separated, fixed 6-digit fraction —
binary order == time order even across fractional/whole-second
values) and every pruning site canonicalizes the literal or declines.
"""

from __future__ import annotations

import datetime

import data_warehouse_solution_spark.cowtable as cow
from data_warehouse_solution_spark.cowtable import (
    _canon_ts_literal,
    stats_candidate_files,
)


def _ts_table(spark, path, n_files=8):
    df = spark.range(800).selectExpr(
        "id AS k",
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*3600) AS ts",
        "CAST(id % 5 AS string) AS v",
    )
    cow.create(spark, path, df.repartitionByRange(n_files, "ts"))
    return cow._load_manifest(spark, path, 1)


def test_staging_records_canonical_timestamp_stats(spark, tmp_path):
    m = _ts_table(spark, str(tmp_path / "t"))
    entry = m["files"][0]
    lo, hi = entry["stats"]["ts"]
    assert cow._ISO_TS_RE.match(lo) and cow._ISO_TS_RE.match(hi)
    assert lo <= hi


def test_ts_range_predicate_prunes_files(spark, tmp_path):
    m = _ts_table(spark, str(tmp_path / "t"))
    total = len(m["files"])
    cand = stats_candidate_files(
        m, "ts >= '2024-01-20 00:00:00' AND ts < '2024-01-22 00:00:00'"
    )
    assert 1 <= len(cand) < total
    # and the files kept really do cover the range (no unsound prune):
    # the engine DELETE over the same predicate equals the full recount
    p2 = str(tmp_path / "t2")
    df = cow.read(spark, str(tmp_path / "t"))
    cow.create(spark, p2, df.repartitionByRange(8, "ts"))
    m2 = cow._load_manifest(spark, p2, 1)
    pred = "ts >= '2024-01-20 00:00:00' AND ts < '2024-01-22 00:00:00'"
    assert len(stats_candidate_files(m2, pred)) < len(m2["files"])
    before = df.count()
    hit = df.filter(pred).count()
    st = cow.delete(spark, p2, pred)
    assert st["files_rewritten"] < len(m2["files"])  # scan was bounded
    assert cow.read(spark, p2).count() == before - hit and hit > 0


def test_ts_boundary_literals_do_not_unsound_prune(spark, tmp_path):
    """A file whose max is exactly the boundary instant must survive
    >= pruning whatever the literal's fractional spelling."""
    m = _ts_table(spark, str(tmp_path / "t"))
    # global max is 2024-02-03 07:00:00 (id 799 = 799h after Jan 1)
    for lit in (
        "2024-02-03 07:00:00",
        "2024-02-03 07:00:00.0",
        "2024-02-03 07:00:00.000000",
        "2024-02-03T07:00:00",
    ):
        cand = stats_candidate_files(m, f"ts >= '{lit}'")
        assert len(cand) >= 1, lit  # the file holding the max survives


def test_non_canonicalizable_literal_declines_to_prune(spark, tmp_path):
    m = _ts_table(spark, str(tmp_path / "t"))
    total = len(m["files"])
    # Spark would cast '2024-1-20' fine; fromisoformat refuses -> the
    # conjunct must prune NOTHING (conservative), never wrongly
    assert len(stats_candidate_files(m, "ts >= '2024-1-20'")) == total
    assert len(stats_candidate_files(m, "ts >= 'not a time'")) == total


def test_date_only_literal_canonicalizes_to_midnight(spark, tmp_path):
    m = _ts_table(spark, str(tmp_path / "t"))
    total = len(m["files"])
    cand = stats_candidate_files(m, "ts >= '2024-01-20'")
    assert 1 <= len(cand) < total


def test_canon_ts_literal_unit():
    f = _canon_ts_literal
    assert f("2024-01-02 03:04:05") == "2024-01-02 03:04:05.000000"
    assert f("2024-01-02T03:04:05.5") == "2024-01-02 03:04:05.500000"
    assert f("2024-01-02") == "2024-01-02 00:00:00.000000"
    aware = datetime.datetime(
        2024, 1, 2, 5, 0, 0, tzinfo=datetime.timezone(datetime.timedelta(hours=2))
    )
    assert f(aware) == "2024-01-02 03:00:00.000000"
    assert f("2024-1-2") is None
    assert f(42) is None
    assert f(None) is None


def test_dsv2_reader_prunes_on_timestamp_filter(spark, tmp_path):
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from data_warehouse_solution_spark.sources.cow_batch import (
        CowBatchReader,
        register_cow_batch,
    )

    path = str(tmp_path / "t")
    _ts_table(spark, path)
    register_cow_batch(spark)
    schema = cow.read(spark, path).schema
    rdr = CowBatchReader(schema, {"tablePath": path})
    total = len(rdr.partitions())
    rdr2 = CowBatchReader(schema, {"tablePath": path})
    lo = datetime.datetime(2024, 1, 20)
    hi = datetime.datetime(2024, 1, 22)
    residual = list(
        rdr2.pushFilters([GreaterThanOrEqual(("ts",), lo), LessThan(("ts",), hi)])
    )
    assert len(residual) == 2  # filters always re-checked row-level
    assert 1 <= len(rdr2.partitions()) < total
    # end-to-end exactness through Spark
    got = (
        spark.read.format("cow")
        .option("tablePath", path)
        .load()
        .filter("ts >= '2024-01-20 00:00:00' AND ts < '2024-01-22 00:00:00'")
        .count()
    )
    want = (
        cow.read(spark, path)
        .filter("ts >= '2024-01-20 00:00:00' AND ts < '2024-01-22 00:00:00'")
        .count()
    )
    assert got == want and got == 48


def test_merge_key_envelope_prunes_on_timestamp_keys(spark, tmp_path):
    """DML key envelopes route timestamps through _stat_val, so a
    merge keyed on a timestamp column stat-prunes its candidates."""
    p = str(tmp_path / "t")
    _ts_table(spark, p)
    src = (
        cow.read(spark, p)
        .filter("ts >= '2024-01-30 00:00:00'")
        .limit(5)
        .selectExpr("k", "ts", "'UPD' AS v")
    )
    st = cow.merge_upsert(spark, p, src, ["ts"])
    assert st["files_scanned"] < 8
    assert cow.read(spark, p).filter("v = 'UPD'").count() == 5


def test_generated_partition_prunes_via_base_column_stats(spark, tmp_path):
    """Delta needs generated-column partition-filter derivation
    (filter on ts -> derived predicate on the generated month
    partition column); here the per-file min/max stats on the BASE
    timestamp column subsume it: a ts range filter prunes the DSv2
    scan to the matching months' files with no derivation machinery."""
    import datetime

    from pyspark.sql.datasource import GreaterThanOrEqual, LessThan

    from data_warehouse_solution_spark.sources.cow_batch import (
        CowBatchReader,
        register_cow_batch,
    )
    import data_warehouse_solution_spark.cowtable as cow

    path = str(tmp_path / "t")
    df = spark.range(360).selectExpr(
        "id AS k",
        "timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0,id*21600) AS ts",
    )
    cow.create(
        spark, path, df,
        partition_by=["month"],
        generated_columns={"month": "date_format(ts, 'yyyy-MM')"},
    )
    m = cow._load_manifest(spark, path, 1)
    months = {f["partition"]["month"] for f in m["files"]}
    assert len(months) == 3  # Jan/Feb/Mar at 4 rows/day
    register_cow_batch(spark)
    schema = cow.read(spark, path).schema
    rdr = CowBatchReader(schema, {"tablePath": path})
    total = len(rdr.partitions())
    rdr2 = CowBatchReader(schema, {"tablePath": path})
    list(
        rdr2.pushFilters(
            [
                GreaterThanOrEqual(("ts",), datetime.datetime(2024, 2, 1)),
                LessThan(("ts",), datetime.datetime(2024, 3, 1)),
            ]
        )
    )
    kept = rdr2.partitions()
    assert 1 <= len(kept) < total
    # every surviving file IS a February file: base-column stats
    # pruned exactly what month-partition derivation would have
    feb = {
        f["name"] for f in m["files"] if f["partition"]["month"] == "2024-02"
    }
    assert {p.name for p in kept} == feb
