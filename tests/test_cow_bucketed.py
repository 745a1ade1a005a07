"""Bucketed COW layout: bucket assignment parity with Spark's own
``bucketBy`` writer, preservation across every write path, and the
zero-shuffle plan shape of ``cowtable.bucketed_view`` joins.

The invariant chain that makes this sound at 100 TB:
1. every data file of a ``bucket_by`` table holds exactly ONE bucket,
   whatever commit wrote it (create/append/DML rewrite/compact);
2. the bucket id is ``pmod(hash(cols), n)`` — BIT-IDENTICAL to
   Spark's ``HashPartitioning.partitionIdExpression`` (pinned below
   against files Spark's writer produced), so mixed
   bucketed⋈shuffled joins are correct, not just bucketed⋈bucketed;
3. the file name carries the ``_000NN`` suffix BucketingUtils parses,
   so a catalog table over (symlinks to) the live files is a genuine
   native bucketed table and joins plan with no Exchange.
"""

from __future__ import annotations

import glob
import os
import re

import pytest

from pyspark.sql import functions as F

from data_warehouse_solution_spark import cowtable as cow


def _mk(spark, tmp_path, name, df, cols, n=8):
    path = str(tmp_path / name)
    cow.create(spark, path, df, bucket_by=cols, num_buckets=n)
    return path


def _no_shuffle(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(r"Exchange hashpartitioning", plan))


@pytest.fixture()
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old)


def test_bucket_assignment_matches_spark_bucketby_writer(spark, tmp_path):
    """The load-bearing parity: our pmod(hash(k), n) must equal the
    bucket id Spark's own bucketBy writer encodes in its file names —
    otherwise a bucketed⋈non-bucketed join (where Spark shuffles the
    other side with ITS partitionIdExpression) would silently drop
    matches. Checked per-file over string AND bigint keys."""
    tbl = f"bktparity_{abs(hash(str(tmp_path))) % 10**8}"
    df = spark.range(500).selectExpr(
        "id AS k", "CAST(id AS STRING) AS s", "id * 2 AS v"
    )
    for cols in (["k"], ["s"], ["k", "s"]):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        df.write.mode("overwrite").bucketBy(8, *cols).saveAsTable(tbl)
        loc = (
            spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}")
            .filter("col_name = 'Location'")
            .collect()[0][1]
            .replace("file:", "")
        )
        ours = F.pmod(F.hash(*[F.col(c) for c in cols]), F.lit(8))
        # one job for ALL files (r15: the per-file read was ~250 jobs
        # per key set): group computed bucket ids by source file via
        # the hidden _metadata column — identical per-file assertion
        expect = {
            os.path.basename(f): int(
                re.search(r"_(\d{5})", os.path.basename(f)).group(1)
            )
            for f in glob.glob(loc + "/*.parquet")
        }
        assert expect, loc
        rows = (
            spark.read.parquet(loc)
            .select(
                ours.alias("b"),
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("f"),
            )
            .groupBy("f")
            .agg(F.collect_set("b").alias("bs"))
            .collect()
        )
        assert {r["f"] for r in rows} == set(expect)
        for r in rows:
            assert set(r["bs"]) <= {expect[r["f"]]}, (cols, r["f"], r["bs"])
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_every_write_path_preserves_one_bucket_per_file(spark, tmp_path):
    path = _mk(
        spark,
        tmp_path,
        "bkt_writes",
        spark.range(400).selectExpr("id AS k", "id * 3 AS v"),
        ["k"],
    )
    cow.append(spark, path, spark.createDataFrame([(1000, 1), (1001, 2)], "k long, v long"))
    cow.delete(spark, path, "k % 11 = 4")
    cow.update(spark, path, "k % 13 = 0", {"v": "v + 7"})
    src = spark.createDataFrame([(5, -1), (2000, -2)], "k long, v long")
    cow.merge_upsert(spark, path, src, ["k"])
    cow.compact(spark, path)
    m = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    assert m["files"], "table emptied unexpectedly"
    expr = F.pmod(F.hash("k"), F.lit(8)).alias("b")
    for f in m["files"]:
        assert "bucket" in f and re.search(r"_(\d{5})\.parquet$", f["name"])
        assert int(re.search(r"_(\d{5})\.parquet$", f["name"]).group(1)) == f["bucket"]
        got = {
            r["b"]
            for r in spark.read.parquet(f"{path}/data/{f['name']}")
            .select(expr)
            .distinct()
            .collect()
        }
        assert got <= {f["bucket"]}, (f["name"], f["bucket"], got)
    # content equals the relational replay
    exp = (
        spark.range(400)
        .selectExpr("id AS k", "id * 3 AS v")
        .unionByName(spark.createDataFrame([(1000, 1), (1001, 2)], "k long, v long"))
        .filter("NOT (k % 11 = 4)")
        .selectExpr("k", "CASE WHEN k % 13 = 0 THEN v + 7 ELSE v END AS v")
        .filter("k NOT IN (5, 2000)")
        .unionByName(src)
    )
    got = cow.read(spark, path)
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_bucketed_join_zero_exchange_survives_delete_compact(
    spark, tmp_path, no_broadcast
):
    """The r6 punch-list 'done' criterion: orders⋈lineitem over two
    bucketed COW views plans with NO hash-partitioning Exchange on the
    bucket key, after a DELETE + compact cycle on one side."""
    o = _mk(
        spark,
        tmp_path,
        "bkt_o",
        spark.range(300).selectExpr("id AS o_k", "id % 5 AS st"),
        ["o_k"],
    )
    l = _mk(
        spark,
        tmp_path,
        "bkt_l",
        spark.range(900).selectExpr("id % 300 AS l_k", "id AS q"),
        ["l_k"],
    )
    cow.delete(spark, o, "st = 3")
    cow.compact(spark, o)
    bo = cow.bucketed_view(spark, o, "t_bkt_o")
    bl = cow.bucketed_view(spark, l, "t_bkt_l")
    j = bo.join(bl, bo["o_k"] == bl["l_k"])
    assert _no_shuffle(j) == 0, "bucketed join planned a shuffle"
    # and a groupBy on the bucket key also plans shuffle-free
    g = bo.groupBy("o_k").count()
    assert _no_shuffle(g) == 0, "bucket-key aggregation planned a shuffle"
    # values equal the plain-read join
    exp = cow.read(spark, o).join(
        cow.read(spark, l), F.col("o_k") == F.col("l_k")
    )
    assert j.count() == exp.count()
    assert j.exceptAll(exp).count() == 0
    spark.sql("DROP TABLE IF EXISTS t_bkt_o")
    spark.sql("DROP TABLE IF EXISTS t_bkt_l")


def test_bucketed_view_time_travel_and_reuse(spark, tmp_path):
    path = _mk(
        spark,
        tmp_path,
        "bkt_tt",
        spark.range(100).selectExpr("id AS k", "id AS v"),
        ["k"],
        n=4,
    )
    cow.delete(spark, path, "k >= 50")
    v1 = cow.bucketed_view(spark, path, "t_bkt_tt1", snapshot=1)
    v2 = cow.bucketed_view(spark, path, "t_bkt_tt2")
    assert v1.count() == 100 and v2.count() == 50
    # second registration of the same snapshot reuses the symlink dir
    v1b = cow.bucketed_view(spark, path, "t_bkt_tt1", snapshot=1)
    assert v1b.count() == 100
    assert len(os.listdir(f"{path}/{cow.BUCKETVIEW_DIR}")) == 2
    for t in ("t_bkt_tt1", "t_bkt_tt2"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_view_masks_deletion_vectors(spark, tmp_path, no_broadcast):
    """The r7 punch-list #2: a MOR delete must NOT forfeit the
    zero-Exchange join until compaction. The view masks DV positions
    with a broadcast LEFT ANTI join below the bucketed scan — a
    broadcast join preserves the streamed side's HashPartitioning,
    so bucketed + MOR (the production pairing) composes."""
    path = _mk(
        spark,
        tmp_path,
        "bkt_dv",
        spark.range(60).selectExpr("id AS k", "id AS v"),
        ["k"],
        n=4,
    )
    other = _mk(
        spark,
        tmp_path,
        "bkt_dv_r",
        spark.range(120).selectExpr("id % 60 AS k2", "id AS w"),
        ["k2"],
        n=4,
    )
    cow.delete(spark, path, "k < 10", mode="mor")
    v = cow.bucketed_view(spark, path, "t_bkt_dvmask")
    assert v.count() == 50
    # the DV'd rows are masked, never resurrected
    assert {r["k"] for r in v.select("k").collect()} == set(range(10, 60))
    # SQL text resolves the masked TEMP VIEW, not the raw file scan
    assert spark.sql("SELECT count(*) AS c FROM t_bkt_dvmask").collect()[0]["c"] == 50
    # and the join is STILL exchange-free, without any compact
    r = cow.bucketed_view(spark, other, "t_bkt_dvmask_r")
    j = v.join(r, v["k"] == r["k2"])
    assert _no_shuffle(j) == 0, "DV-masked bucketed join planned a shuffle"
    exp = cow.read(spark, path).join(cow.read(spark, other), F.col("k") == F.col("k2"))
    assert j.count() == exp.count() == 100
    assert j.exceptAll(exp).count() == 0
    # a later compact materializes the DVs; re-registration under the
    # same name swaps back to the direct catalog table
    cow.compact(spark, path)
    v2 = cow.bucketed_view(spark, path, "t_bkt_dvmask")
    assert v2.count() == 50
    for t in ("t_bkt_dvmask", "t_bkt_dvmask__files", "t_bkt_dvmask_r"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_bucketed_view_refusals(spark, tmp_path):
    path = _mk(
        spark,
        tmp_path,
        "bkt_ref",
        spark.range(60).selectExpr("id AS k", "CAST(id AS INT) AS v"),
        ["k"],
        n=4,
    )
    # pre-widening file vintages: the raw catalog scan may not upcast
    # the old files' narrower physical type (ADVICE r7)
    cow.alter_widen_column(spark, path, "v", "bigint")
    with pytest.raises(ValueError, match="pre-widening"):
        cow.bucketed_view(spark, path, "t_bkt_refuse_w")
    # a FULL rewrite (compact) retires the narrow vintages: allowed
    cow.compact(spark, path)
    assert cow.bucketed_view(spark, path, "t_bkt_refuse_w").count() == 60
    spark.sql("DROP TABLE IF EXISTS t_bkt_refuse_w")
    # renamed (column-mapped) tables: files store physical names
    cow.alter_rename_column(spark, path, "v", "val")
    with pytest.raises(ValueError, match="physical column names"):
        cow.bucketed_view(spark, path, "t_bkt_refuse2")
    # non-bucketed table
    plain = str(tmp_path / "plain")
    cow.create(spark, plain, spark.range(5).selectExpr("id AS k"))
    with pytest.raises(ValueError, match="not bucketed"):
        cow.bucketed_view(spark, plain, "t_bkt_refuse3")
    # reserved staging column name (ADVICE r7: silent data loss)
    with pytest.raises(ValueError, match="reserved"):
        cow.create(
            spark,
            str(tmp_path / "bkt_resv"),
            spark.range(5).selectExpr("id AS k", "id AS __dws_bucket"),
            bucket_by=["k"],
        )
    # bucket columns must be disjoint from partition columns
    with pytest.raises(ValueError, match="partition columns"):
        cow.create(
            spark,
            str(tmp_path / "bkt_overlap"),
            spark.range(5).selectExpr("id AS k", "id % 2 AS p"),
            partition_by=["p"],
            bucket_by=["p"],
        )


def test_bucket_update_moves_row_to_new_bucket(spark, tmp_path):
    """UPDATE that rewrites a BUCKET column: the rewritten row must
    land in the bucket of its NEW value (assignment recomputes inside
    _stage_files), never stay in its old file's bucket."""
    path = _mk(
        spark,
        tmp_path,
        "bkt_move",
        spark.range(200).selectExpr("id AS k", "id AS v"),
        ["k"],
    )
    cow.update(spark, path, "k = 7", {"k": "9999"})
    m = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    expr = F.pmod(F.hash("k"), F.lit(8)).alias("b")
    for f in m["files"]:
        got = {
            r["b"]
            for r in spark.read.parquet(f"{path}/data/{f['name']}")
            .select(expr)
            .distinct()
            .collect()
        }
        assert got <= {f["bucket"]}
    ks = {r["k"] for r in cow.read(spark, path).collect()}
    assert 7 not in ks and 9999 in ks


def test_bucketed_partitioned_compose(spark, tmp_path, no_broadcast):
    """The r7 punch-list #1: date-partition pruning AND the
    zero-Exchange bucketed join on the SAME table — the 100 TB fact
    shape. Every file must hold exactly one (partition, bucket) cell;
    the bucketed view preserves the Hive tree so PartitionFilters
    reach the scan while the join stays exchange-free; point DML
    stacks bucket pruning on partition pruning."""
    o = str(tmp_path / "bp_o")
    l = str(tmp_path / "bp_l")
    cow.create(
        spark,
        o,
        spark.range(300).selectExpr("id AS o_k", "id % 3 AS region", "id % 5 AS st"),
        partition_by=["region"],
        bucket_by=["o_k"],
        num_buckets=4,
    )
    cow.create(
        spark,
        l,
        spark.range(900).selectExpr("id % 300 AS l_k", "id % 3 AS region", "id AS q"),
        partition_by=["region"],
        bucket_by=["l_k"],
        num_buckets=4,
    )
    cow.delete(spark, o, "st = 3")
    cow.compact(spark, o)
    m = cow._load_manifest(spark, o, cow.current_snapshot(spark, o))
    expr = F.pmod(F.hash("o_k"), F.lit(4)).alias("b")
    for f in m["files"]:
        # one (partition, bucket) per file, both recorded on the entry
        assert f.get("partition", {}).get("region") is not None
        assert "bucket" in f and f["name"].startswith(f"region={f['partition']['region']}/")
        assert int(re.search(r"_(\d{5})\.parquet$", f["name"]).group(1)) == f["bucket"]
        got = {
            r["b"]
            for r in spark.read.parquet(f"{o}/data/{f['name']}").select(expr).distinct().collect()
        }
        assert got <= {f["bucket"]}, (f["name"], f["bucket"], got)
    bo = cow.bucketed_view(spark, o, "t_bp_o")
    bl = cow.bucketed_view(spark, l, "t_bp_l")
    assert bo.columns == ["o_k", "region", "st"], "manifest column order lost"
    # partition-pruned scan + zero hash-partitioning Exchange, together
    j = bo.filter("region = 1").join(bl.filter("region = 1"), bo["o_k"] == bl["l_k"])
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert _no_shuffle(j) == 0, "partitioned bucketed join planned a shuffle"
    assert re.search(r"PartitionFilters: \[[^\]]*region", plan), (
        "partition filter did not reach the bucketed scan"
    )
    exp = (
        cow.read(spark, o).filter("region = 1")
        .join(cow.read(spark, l).filter("region = 1"), F.col("o_k") == F.col("l_k"))
    )
    assert j.count() == exp.count()
    assert j.exceptAll(exp).count() == 0
    # point DML: bucket pruning STACKS on partition pruning — a
    # (partition, key) DELETE opens 1 file of the 12 (3 parts x 4 bkts)
    m = cow._load_manifest(spark, o, cow.current_snapshot(spark, o))
    cand = cow.stats_candidate_files(m, "region = 1 AND o_k = 100")
    assert len(cand) == 1, [c["name"] for c in cand]
    assert cand[0]["partition"]["region"] == "1"
    stats = cow.delete(spark, o, "region = 1 AND o_k = 100")
    assert stats["files_rewritten"] == 1
    assert cow.read(spark, o).filter("o_k = 100").count() == 0
    for t in ("t_bp_o", "t_bp_l"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_sorted_buckets_conf_pinned_and_sort_eliminated(spark, tmp_path, no_broadcast):
    """The r7 punch-list #6: bucketed_view must PIN the legacy conf
    its Sort elimination rides on — this test fails if the conf is
    absent after registration, rather than silently passing with a
    Sort in the plan."""
    a = str(tmp_path / "srt_a")
    b = str(tmp_path / "srt_b")
    for p, k in ((a, "ka"), (b, "kb")):
        cow.create(
            spark,
            p,
            spark.range(200).selectExpr(f"id AS {k}", "id * 2 AS v"),
            bucket_by=[k],
            num_buckets=4,
            bucket_sort_by=[k],
        )
        cow.compact(spark, p)  # one file per bucket: ordering reportable
    # no manual conf set here: registration itself must pin it
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    va = cow.bucketed_view(spark, a, "t_srt_a")
    assert (
        spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering")
        == "true"
    ), "bucketed_view did not pin the sorted-scan conf"
    vb = cow.bucketed_view(spark, b, "t_srt_b")
    j = va.join(vb, va["ka"] == vb["kb"])
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert _no_shuffle(j) == 0
    assert len(re.findall(r"\bSort \[", plan)) == 0, "SMJ re-sorted:\n" + plan
    assert j.count() == 200
    # r8 punch-list #8: the pin is a documented SESSION-WIDE side
    # effect (the conf must hold at query time, so registration can't
    # scope it) — re-registering the same view must leave it set
    cow.bucketed_view(spark, a, "t_srt_a")
    assert (
        spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering")
        == "true"
    ), "re-registration dropped the sorted-scan conf pin"
    for t in ("t_srt_a", "t_srt_b"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_vacuum_removes_expired_bucketview_dirs(spark, tmp_path):
    path = _mk(
        spark,
        tmp_path,
        "bkt_vac",
        spark.range(80).selectExpr("id AS k", "id AS v"),
        ["k"],
        n=4,
    )
    cow.delete(spark, path, "k >= 40")
    cow.bucketed_view(spark, path, "t_bkt_vac1", snapshot=1)
    cow.bucketed_view(spark, path, "t_bkt_vac2")
    assert len(os.listdir(f"{path}/{cow.BUCKETVIEW_DIR}")) == 2
    # a crashed builder's orphaned tmp dir (ADVICE r7): age-gated like
    # data files — skipped while young, removed once past the window
    orphan = f"{path}/{cow.BUCKETVIEW_DIR}/snap-00000001.tmp-deadbeef"
    os.makedirs(orphan)
    cow.vacuum(spark, path, keep_last=2, min_file_age_seconds=3600)
    assert os.path.isdir(orphan), "young tmp dir must survive (live builder)"
    cow.vacuum(spark, path, keep_last=1, min_file_age_seconds=0)
    # snapshot 1 expired: its view dir (whose links would dangle) is
    # gone; the orphaned tmp dir goes too; the retained snapshot's
    # view survives and still reads
    left = os.listdir(f"{path}/{cow.BUCKETVIEW_DIR}")
    assert left == ["snap-00000002"]
    assert spark.table("t_bkt_vac2").count() == 40
    for t in ("t_bkt_vac1", "t_bkt_vac2"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_python_murmur3_matches_spark_hash(spark):
    """The driver-side bucket-pruning hash must be bit-identical to
    F.hash for every supported literal/column-type pair — including
    the multi-column chained fold."""
    import datetime as dt

    from data_warehouse_solution_spark.hashing import murmur3_literal

    rows = spark.createDataFrame(
        [
            (i, -i * 7, f"s{i}·", i * 1234567890123, dt.date(2024, 1, 1 + i % 28))
            for i in range(-5, 30)
        ],
        "a int, b int, s string, l long, d date",
    )
    got = rows.select(
        "a", "b", "s", "l", "d",
        F.hash("a").alias("ha"), F.hash("b").alias("hb"),
        F.hash("s").alias("hs"), F.hash("l").alias("hl"),
        F.hash("d").alias("hd"), F.hash("a", "s", "l").alias("hchain"),
    ).collect()

    def signed(h):
        return h - (1 << 32) if h >= (1 << 31) else h

    for r in got:
        assert signed(murmur3_literal(r["a"], "int", 42)) == r["ha"]
        assert signed(murmur3_literal(r["b"], "int", 42)) == r["hb"]
        assert signed(murmur3_literal(r["s"], "string", 42)) == r["hs"]
        assert signed(murmur3_literal(r["l"], "bigint", 42)) == r["hl"]
        assert (
            signed(murmur3_literal(r["d"].isoformat(), "date", 42))
            == r["hd"]
        )
        h = murmur3_literal(r["a"], "int", 42)
        h = murmur3_literal(r["s"], "string", h)
        h = murmur3_literal(r["l"], "bigint", h)
        assert signed(h) == r["hchain"]


def test_point_dml_prunes_by_bucket(spark, tmp_path):
    """A `k = v` predicate on a bucketed table must candidate only
    the key's OWN bucket's files (min/max stats cannot help on a
    uniformly spread key); IN-lists prune to the union of their
    buckets; unsupported shapes stay conservative."""
    path = _mk(
        spark,
        tmp_path,
        "bkt_prune",
        spark.range(800).selectExpr("id AS k", "CAST(id AS STRING) AS s", "id AS v"),
        ["k"],
    )
    m = cow._load_manifest(spark, path, 1)
    assert len(m["files"]) == 8
    cands = cow.stats_candidate_files(m, "k = 13")
    assert len(cands) == 1
    assert cands[0]["bucket"] == cow._bucket_of_key([13], ["bigint"], 8)
    cands_in = cow.stats_candidate_files(m, "k IN (13, 14, 15)")
    want = {cow._bucket_of_key([v], ["bigint"], 8) for v in (13, 14, 15)}
    assert {c["bucket"] for c in cands_in} == want
    # a range predicate cannot pin a bucket: all files stay candidates
    assert len(cow.stats_candidate_files(m, "k < 100")) == 8
    # delete correctness through the pruned path
    cow.delete(spark, path, "k = 13")
    assert cow.read(spark, path).filter("k = 13").count() == 0
    assert cow.read(spark, path).count() == 799
    # multi-column spec: all columns must be pinned
    p2 = _mk(
        spark,
        tmp_path,
        "bkt_prune2",
        spark.range(400).selectExpr("id AS k", "CAST(id % 7 AS STRING) AS s", "id AS v"),
        ["k", "s"],
    )
    m2 = cow._load_manifest(spark, p2, 1)
    c2 = cow.stats_candidate_files(m2, "k = 5 AND s = '5'")
    assert len(c2) == 1
    assert c2[0]["bucket"] == cow._bucket_of_key([5, "5"], ["bigint", "string"], 8)
    # with s unpinned the BUCKET filter must not refute anything:
    # candidates equal the pure stats result (min/max may still prune)
    stats_only = [
        f
        for f in m2["files"]
        if cow._file_may_match(
            f, [("k", "=", 5)], {"k": "bigint", "s": "string", "v": "bigint"}
        )
    ]
    assert cow.stats_candidate_files(m2, "k = 5") == stats_only


def test_bucket_column_widen_and_drop_refused_rename_follows(spark, tmp_path):
    path = _mk(
        spark,
        tmp_path,
        "bkt_alter",
        spark.range(100).selectExpr("CAST(id AS INT) AS k", "id AS v"),
        ["k"],
        n=4,
    )
    with pytest.raises(ValueError, match="bucket column"):
        cow.alter_widen_column(spark, path, "k", "bigint")
    with pytest.raises(ValueError, match="bucket/sort column"):
        cow.alter_drop_column(spark, path, "k")
    cow.alter_rename_column(spark, path, "k", "key")
    m = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    assert m["bucket_by"]["columns"] == ["key"]
    # pruning still works through the physical mapping after rename
    cands = cow.stats_candidate_files(m, "key = 7")
    assert len(cands) == 1
    # and appends keep bucketing under the new name
    cow.append(spark, path, spark.createDataFrame([(500, 1)], "key int, v long"))
    m2 = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    assert all("bucket" in f for f in m2["files"])


@pytest.mark.parametrize("seed", range(3))
def test_bucketed_vs_plain_random_dml_differential(spark, tmp_path, seed):
    """Property: a bucketed table and an UNBUCKETED twin driven by the
    IDENTICAL random DML sequence hold identical content at every
    step, and the bucketed side keeps one-bucket-per-file throughout.
    Catches any write path that drops/mis-assigns buckets or lets the
    layout change results."""
    import random

    rng = random.Random(7100 + seed)
    base = spark.range(300).selectExpr("id AS k", "id * 2 AS v")
    pb = str(tmp_path / f"prop_bkt_{seed}")
    pp = str(tmp_path / f"prop_plain_{seed}")
    cow.create(spark, pb, base, bucket_by=["k"], num_buckets=4)
    cow.create(spark, pp, base)
    next_k = 1000
    for step in range(5):
        op = rng.choice(["delete", "update", "append", "merge", "compact"])
        if op == "delete":
            m_ = rng.randrange(2, 9)
            r_ = rng.randrange(m_)
            cond = f"k % {m_} = {r_}"
            cow.delete(spark, pb, cond)
            cow.delete(spark, pp, cond)
        elif op == "update":
            m_ = rng.randrange(2, 9)
            cond = f"k % {m_} = 0"
            cow.update(spark, pb, cond, {"v": "v + 1"})
            cow.update(spark, pp, cond, {"v": "v + 1"})
        elif op == "append":
            rows = [(next_k + i, i) for i in range(rng.randrange(1, 20))]
            next_k += 50
            df = spark.createDataFrame(rows, "k long, v long")
            cow.append(spark, pb, df)
            cow.append(spark, pp, df)
        elif op == "merge":
            rows = [(rng.randrange(350), -step)] + [
                (next_k + i, -step) for i in range(3)
            ]
            next_k += 50
            src = spark.createDataFrame(rows, "k long, v long").dropDuplicates(["k"])
            cow.merge_upsert(spark, pb, src, ["k"])
            cow.merge_upsert(spark, pp, src, ["k"])
        else:
            cow.compact(spark, pb)
            cow.compact(spark, pp)
        got_b = cow.read(spark, pb)
        got_p = cow.read(spark, pp)
        assert got_b.exceptAll(got_p).count() == 0
        assert got_p.exceptAll(got_b).count() == 0, (seed, step, op)
        m = cow._load_manifest(spark, pb, cow.current_snapshot(spark, pb))
        expr = F.pmod(F.hash("k"), F.lit(4)).alias("b")
        for f in m["files"]:
            assert "bucket" in f, (seed, step, op, f["name"])
            got = {
                r["b"]
                for r in spark.read.parquet(f"{pb}/data/{f['name']}")
                .select(expr)
                .distinct()
                .collect()
            }
            assert got <= {f["bucket"]}, (seed, step, op, f["name"])


def test_sorted_buckets_eliminate_smj_sort(spark, tmp_path, no_broadcast):
    """bucket_sort_by: every staged file is sorted within its bucket;
    on compacted tables (one file per bucket) the bucketed-view SMJ
    plans with ZERO Exchange and — under Spark's
    legacy.bucketedTableScan.outputOrdering conf — ZERO Sort."""
    import pyarrow.parquet as pq_

    a = str(tmp_path / "sb_a")
    b = str(tmp_path / "sb_b")
    cow.create(
        spark, a,
        spark.range(2000).selectExpr("id AS k", "id * 2 AS v"),
        bucket_by=["k"], num_buckets=4, bucket_sort_by=["k"],
    )
    cow.create(
        spark, b,
        spark.range(1000).selectExpr("id * 2 AS k", "id AS w"),
        bucket_by=["k"], num_buckets=4, bucket_sort_by=["k"],
    )
    cow.delete(spark, a, "k % 100 = 7")
    cow.compact(spark, a)
    cow.compact(spark, b)
    # every file's rows are sorted by the sort key
    m = cow._load_manifest(spark, a, cow.current_snapshot(spark, a))
    for f in m["files"]:
        ks = pq_.read_table(f"{a}/data/{f['name']}", columns=["k"]).column("k").to_pylist()
        assert ks == sorted(ks), f["name"]
    old = spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try:
        va = cow.bucketed_view(spark, a, "t_sb_a")
        vb = cow.bucketed_view(spark, b, "t_sb_b")
        j = va.join(vb, "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 0
        assert len(re.findall(r"\bSort \[", plan)) == 0, "SMJ re-sorted"
        exp = cow.read(spark, a).join(cow.read(spark, b), "k")
        assert j.count() == exp.count() and j.exceptAll(exp).count() == 0
    finally:
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", old)
        for t in ("t_sb_a", "t_sb_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
    # rename follows the sort spec; drop of a sort column refuses
    cow.alter_rename_column(spark, a, "k", "key")
    m2 = cow._load_manifest(spark, a, cow.current_snapshot(spark, a))
    assert m2["bucket_by"]["sort_by"] == ["key"]
    with pytest.raises(ValueError, match="bucket/sort column"):
        cow.alter_drop_column(spark, a, "key")


def test_bucketed_partitioned_live_dv_three_way(spark, tmp_path, no_broadcast):
    """The r8 punch-list #4: partitioned + bucketed + LIVE deletion
    vectors, all three at once, with NO compaction. On partitioned
    tables ``bucketed_view`` applies the DV mask on
    ``_metadata.file_path`` AFTER the column-order-restoring Project
    (cowtable's parts+dvd branch) — metadata-column propagation
    through Projects is what makes that correct, and nothing pinned
    the three-way case before this test. Asserts: DV'd rows masked,
    join exchange-free, PartitionFilters reach BOTH bucketed scans,
    values match the engine read, and the gate's SQL-text route gives
    the same result over the same live-DV table."""
    o = str(tmp_path / "bpd_o")
    l = str(tmp_path / "bpd_l")
    cow.create(
        spark,
        o,
        spark.range(300).selectExpr("id AS o_k", "id % 3 AS region", "id % 5 AS st"),
        partition_by=["region"],
        bucket_by=["o_k"],
        num_buckets=4,
    )
    cow.create(
        spark,
        l,
        spark.range(900).selectExpr("id % 300 AS l_k", "id % 3 AS region2", "id AS q"),
        partition_by=["region2"],
        bucket_by=["l_k"],
        num_buckets=4,
    )
    cow.delete(spark, o, "st = 3", mode="mor")  # DVs stay LIVE: no compact
    m = cow._load_manifest(spark, o, cow.current_snapshot(spark, o))
    assert any(f.get("dv") for f in m["files"]), "MOR delete left no DVs"
    bo = cow.bucketed_view(spark, o, "t_bpd_o")
    bl = cow.bucketed_view(spark, l, "t_bpd_l")
    assert bo.columns == ["o_k", "region", "st"], "manifest column order lost"
    # the DV mask holds through the partitioned view
    assert bo.count() == 240  # 300 - 60 (st = 3)
    assert bo.filter("st = 3").count() == 0
    j = bo.filter("region = 1").join(bl.filter("region2 = 1"), bo["o_k"] == bl["l_k"])
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert _no_shuffle(j) == 0, "three-way composition planned a shuffle"
    assert len(re.findall(r"PartitionFilters: \[[^\]]*region", plan)) == 2, (
        "partition filters did not reach both bucketed scans"
    )
    exp = (
        cow.read(spark, o).filter("region = 1")
        .join(cow.read(spark, l).filter("region2 = 1"), F.col("o_k") == F.col("l_k"))
    )
    assert j.count() == exp.count() == 240  # 80 live o_k x 3 lineitems
    assert j.exceptAll(exp).count() == 0
    # gate SQL-text route over the SAME live-DV partitioned bucketed
    # table: same values, and at most the one group-by Exchange
    from data_warehouse_solution_spark.sql_gate import run_sql

    df = run_sql(
        spark,
        f"""
        SELECT o.region AS region, COUNT(*) AS n
        FROM cow.`{o}` o JOIN cow.`{l}` l ON o.o_k = l.l_k
        WHERE o.region = 1 AND l.region2 = 1
        GROUP BY o.region
        """,
    )
    sql_plan = df._jdf.queryExecution().executedPlan().toString()
    assert _no_shuffle(df) <= 1, sql_plan  # only the group-by partials
    got = {(r["region"], r["n"]) for r in df.collect()}
    assert got == {(1, 240)}  # DV'd rows absent from the SQL route too
    for t in ("t_bpd_o", "t_bpd_l"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")

def test_bucketed_view_conf_scoping(spark, tmp_path):
    # r14 (VERDICT r13 punch #4, carried since r8): the sorted-scan
    # conf pin is opt-out-able — pin_sort_conf=False must leave the
    # conf's PRE-CALL value untouched, and an UNSORTED bucketed view
    # must never touch it regardless.
    key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    srt = str(tmp_path / "scope_srt")
    plain = str(tmp_path / "scope_plain")
    cow.create(
        spark, srt, spark.range(50).selectExpr("id AS k", "id*2 AS v"),
        bucket_by=["k"], num_buckets=4, bucket_sort_by=["k"],
    )
    cow.create(
        spark, plain, spark.range(50).selectExpr("id AS k", "id*2 AS v"),
        bucket_by=["k"], num_buckets=4,
    )
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        # opt-out: pre-call value survives a SORTED registration
        df = cow.bucketed_view(spark, srt, "t_scope_srt", pin_sort_conf=False)
        assert spark.conf.get(key) == "false"
        assert df.count() == 50  # the view itself still reads fine
        # unsorted spec: conf untouched even with the default pin flag
        cow.bucketed_view(spark, plain, "t_scope_plain")
        assert spark.conf.get(key) == "false"
        # default pin on a sorted spec still pins (the r8 contract)
        cow.bucketed_view(spark, srt, "t_scope_srt")
        assert spark.conf.get(key) == "true"
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
        for t in ("t_scope_srt", "t_scope_plain"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
