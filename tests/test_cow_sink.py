"""``cowsink`` streaming-writer contract tests beyond the registry
roundtrip: replayed-batch idempotence, commit-race retry against a
rival writer, unsupported-table refusals, and the file/row count
stamps that writer commits (``cowsink`` and ``format("cow")``) keep."""

from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest

import data_warehouse_solution_spark.cowtable as cow
from data_warehouse_solution_spark.sources.cow_sink import CowSinkDataSource


def _fresh(name: str) -> str:
    return os.path.join(tempfile.mkdtemp(prefix=f"dws_sink_{name}_"), "t")


def _writer(spark, path):
    # a per-query identity (txnAppId or checkpointLocation) is
    # REQUIRED — the sink refuses to guess one (replay-guard scoping)
    ds = CowSinkDataSource({"tablePath": path, "txnAppId": f"test-{path}"})
    schema = cow.table_schema(spark, path)
    return ds.streamWriter(schema, overwrite=False)


def test_writer_requires_query_identity(spark):
    path = _fresh("noid")
    cow.create(spark, path, spark.createDataFrame([(0, 0.5, "s")], "k long, v double, s string"))
    with pytest.raises(ValueError, match="per-query identity"):
        CowSinkDataSource({"tablePath": path}).streamWriter(
            cow.table_schema(spark, path), overwrite=False
        )


def _rows(spark, payload):
    return spark.createDataFrame(payload, "k long, v double, s string").collect()


def test_commit_and_replay_idempotence(spark):
    path = _fresh("replay")
    cow.create(spark, path, spark.createDataFrame([(0, 0.5, "seed")], "k long, v double, s string"))
    w = _writer(spark, path)
    msgs = [w.write(iter(_rows(spark, [(1, 1.5, "a"), (2, 2.5, "b")])))]
    w.commit(msgs, batchId=7)
    assert cow.read(spark, path).count() == 3
    # replay of batch 7 (crash between sink commit and checkpoint):
    # re-staged files must be dropped, nothing double-committed
    replay = [w.write(iter(_rows(spark, [(1, 1.5, "a"), (2, 2.5, "b")])))]
    staged_name = replay[0].entries[0]["name"]
    w.commit(replay, batchId=7)
    assert cow.read(spark, path).count() == 3
    assert not os.path.exists(os.path.join(path, "data", staged_name))
    # the next batch id commits normally
    w.commit([w.write(iter(_rows(spark, [(3, 3.5, "c")])))], batchId=8)
    assert cow.read(spark, path).count() == 4
    # manifest stats landed (pruning index usable)
    m = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    entry = next(f for f in m["files"] if f["name"].startswith("sink-"))
    assert entry["stats"]["k"] == [1, 2] or entry["stats"]["k"] == [3, 3]


def test_commit_race_retries_to_next_snapshot(spark):
    path = _fresh("race")
    cow.create(spark, path, spark.createDataFrame([(0, 0.5, "seed")], "k long, v double, s string"))
    w = _writer(spark, path)
    msgs = [w.write(iter(_rows(spark, [(9, 9.5, "z")])))]
    # a rival writer claims snapshot 2 before our commit runs
    head = json.loads(open(os.path.join(path, "_manifests", "manifest-00000001.json")).read())
    rival = dict(head, snapshot_id=2, parent=1, operation="rival_append")
    with open(os.path.join(path, "_manifests", "manifest-00000002.json"), "w") as fh:
        json.dump(rival, fh)
    w.commit(msgs, batchId=1)
    assert cow.current_snapshot(spark, path) == 3  # retried past the rival
    assert {r.k for r in cow.read(spark, path).collect()} == {0, 9}


def test_sink_writes_bucketed_tables_at_parity(spark):
    """The r7 punch-list #3 (sink half): streaming producers with only
    the format string can feed the bucketed layout — one bucket per
    staged file (Murmur3 parity via the shared closures), the _000NN
    suffix, entry bucket ids, and engine DML interop after."""
    import re

    from pyspark.sql import functions as F

    bkt = _fresh("bkt_w")
    cow.create(
        spark,
        bkt,
        spark.createDataFrame([(1, 1.0, "a")], "k long, v double, s string"),
        bucket_by=["k"],
        num_buckets=4,
    )
    w = _writer(spark, bkt)
    w.commit(
        [w.write(iter(_rows(spark, [(i, i + 0.5, f"s{i}") for i in range(40)])))],
        batchId=1,
    )
    m = cow._load_manifest(spark, bkt, cow.current_snapshot(spark, bkt))
    assert m.get("bucket_by"), "sink commit dropped the bucket spec"
    sunk = [f for f in m["files"] if f["name"].startswith("sink-")]
    assert len(sunk) == 4  # one file per bucket this batch
    expr = F.pmod(F.hash("k"), F.lit(4)).alias("b")
    for f in sunk:
        assert int(re.search(r"_(\d{5})\.parquet$", f["name"]).group(1)) == f["bucket"]
        got = {
            r["b"]
            for r in spark.read.parquet(f"{bkt}/data/{f['name']}")
            .select(expr)
            .distinct()
            .collect()
        }
        assert got <= {f["bucket"]}, (f["name"], f["bucket"], got)
    # bucket pruning works over sink-written files too
    cand = cow.stats_candidate_files(m, "k = 7")
    assert {c["bucket"] for c in cand} == {cow._bucket_of_key([7], ["bigint"], 4)}
    assert cow.read(spark, bkt).count() == 41


def test_refuses_unsupported_tables(spark):
    # r8 punch-list #5: DuckDB-expressible, type-exact generated
    # expressions are now SUPPORTED (recomputed per micro-batch) —
    # the refusal applies only to non-portable expressions
    gen = _fresh("gen")
    cow.create(
        spark,
        gen,
        spark.createDataFrame([(1, 1.0, "a")], "k long, v double, s string"),
        generated_columns={"v2": "v * 2"},
    )
    assert _writer(spark, gen) is not None  # portable: constructs
    # Spark-only expression: refused at query start with the pointer
    spark_only = _fresh("gen_sparkonly")
    cow.create(
        spark,
        spark_only,
        spark.createDataFrame([(1, 1.0, "a")], "k long, v double, s string"),
        generated_columns={"h": "xxhash64(s)"},
    )
    with pytest.raises(ValueError, match="not.*portable|portable"):
        _writer(spark, spark_only)
    # type-rule divergence (Spark length -> int, DuckDB -> bigint):
    # refused rather than staging drifted bytes
    drift = _fresh("gen_typedrift")
    cow.create(
        spark,
        drift,
        spark.createDataFrame([(1, 1.0, "a")], "k long, v double, s string"),
        generated_columns={"slen": "length(s)"},
    )
    with pytest.raises(ValueError, match="declares"):
        _writer(spark, drift)


def test_distinct_queries_do_not_cross_replay(spark):
    """Two sinks with different app identities (checkpoint/txnAppId)
    must both land their batch 0 — batchId alone is not a replay key."""
    path = _fresh("twoapp")
    cow.create(spark, path, spark.createDataFrame([(0, 0.5, "seed")], "k long, v double, s string"))
    schema = cow.table_schema(spark, path)
    wa = CowSinkDataSource({"tablePath": path, "txnAppId": "query-A"}).streamWriter(schema, False)
    wb = CowSinkDataSource({"tablePath": path, "txnAppId": "query-B"}).streamWriter(schema, False)
    wa.commit([wa.write(iter(_rows(spark, [(1, 1.0, "a")])))], batchId=0)
    wb.commit([wb.write(iter(_rows(spark, [(2, 2.0, "b")])))], batchId=0)
    assert {r.k for r in cow.read(spark, path).collect()} == {0, 1, 2}
    # but the SAME app replaying batch 0 is skipped
    wa.commit([wa.write(iter(_rows(spark, [(1, 1.0, "a")])))], batchId=0)
    assert cow.read(spark, path).count() == 3


def test_replay_guard_survives_vacuum(spark):
    """After vacuum expires the batch's snapshot, the txn sidecar
    still detects the replay (label evidence alone would be gone)."""
    path = _fresh("vacreplay")
    cow.create(spark, path, spark.createDataFrame([(0, 0.5, "seed")], "k long, v double, s string"))
    w = _writer(spark, path)
    w.commit([w.write(iter(_rows(spark, [(1, 1.0, "a")])))], batchId=3)
    for i in range(4):  # advance history, then expire it
        cow.append(spark, path, spark.createDataFrame([(10 + i, 1.0, "x")], "k long, v double, s string"))
    cow.vacuum(spark, path, keep_last=2)
    n = cow.read(spark, path).count()
    w.commit([w.write(iter(_rows(spark, [(1, 1.0, "a")])))], batchId=3)
    assert cow.read(spark, path).count() == n  # replay skipped


def test_mid_stream_constraint_fails_batch_loudly(spark):
    path = _fresh("midck")
    cow.create(spark, path, spark.createDataFrame([(0, 0.5, "seed")], "k long, v double, s string"))
    w = _writer(spark, path)
    cow.add_check_constraint(spark, path, "vpos", "v > 0")
    msgs = [w.write(iter(_rows(spark, [(1, 1.0, "a")])))]
    staged = msgs[0].entries[0]["name"]
    with pytest.raises(RuntimeError, match="CHECK constraints"):
        w.commit(msgs, batchId=0)
    assert not os.path.exists(os.path.join(path, "data", staged))
    # the constraint is still on the head (not erased)
    m = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    assert m["check_constraints"] == {"vpos": "v > 0"}


def test_timestamp_columns_get_canonical_stats_and_prune_safely(spark):
    """r12: the sink path records timestamp stats in the CANONICAL
    fixed-width form (cowtable._canon_ts — binary order == time
    order), identical to engine staging; DML with a timestamp
    predicate hits exactly the right rows."""
    import datetime

    path = _fresh("tscol")
    ts = datetime.datetime
    cow.create(
        spark,
        path,
        spark.createDataFrame(
            [(1, ts(2024, 1, 1, 10)), (2, ts(2024, 1, 1, 18))], "k long, t timestamp"
        ),
    )
    schema = cow.table_schema(spark, path)
    w = CowSinkDataSource({"tablePath": path, "txnAppId": "ts"}).streamWriter(schema, False)
    rows = spark.createDataFrame([(3, ts(2024, 1, 1, 11))], "k long, t timestamp").collect()
    w.commit([w.write(iter(rows))], batchId=0)
    m = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    sink_entry = next(f for f in m["files"] if f["name"].startswith("sink-"))
    assert sink_entry["stats"]["t"] == [
        "2024-01-01 11:00:00.000000",
        "2024-01-01 11:00:00.000000",
    ]
    assert sink_entry["stats"]["k"] == [3, 3]
    cow.delete(spark, path, "t <= '2024-01-01 12:00:00'")
    assert {r.k for r in cow.read(spark, path).collect()} == {2}


def test_legacy_label_never_masks_new_query_batches(spark):
    """An UNSCOPED legacy label (pre-app-id sink: stream_append_batch_N)
    must NOT count as replay evidence for a new query — treating it as
    one silently drops the new query's batch N (files deleted, nothing
    committed): data loss. The new query's batch 5 must commit."""
    path = _fresh("legacy")
    cow.create(spark, path, spark.createDataFrame([(0, 0.5, "s")], "k long, v double, s string"))
    # simulate an old-version commit: manifest with the legacy label
    head = json.loads(open(os.path.join(path, "_manifests", "manifest-00000001.json")).read())
    legacy = dict(head, snapshot_id=2, parent=1, operation="stream_append_batch_5")
    with open(os.path.join(path, "_manifests", "manifest-00000002.json"), "w") as fh:
        json.dump(legacy, fh)
    w = _writer(spark, path)
    msgs = [w.write(iter(_rows(spark, [(1, 1.0, "a")])))]
    w.commit(msgs, batchId=5)  # a NEW query's batch 5: must land
    assert cow.read(spark, path).count() == 2
    assert cow.current_snapshot(spark, path) == 3
    # while a replay of the SAME query's batch 5 is still skipped
    msgs2 = [w.write(iter(_rows(spark, [(2, 2.0, "b")])))]
    w.commit(msgs2, batchId=5)
    assert cow.read(spark, path).count() == 2
    assert cow.current_snapshot(spark, path) == 3


def test_record_txn_never_regresses_high_water_mark(spark):
    """A label-scan replay detection for an OLD batch repairs the
    sidecar without rewinding it below batches already recorded."""
    path = _fresh("hwm")
    cow.create(spark, path, spark.createDataFrame([(0, 0.5, "s")], "k long, v double, s string"))
    w = _writer(spark, path)
    w.commit([w.write(iter(_rows(spark, [(1, 1.0, "a")])))], batchId=0)
    w.commit([w.write(iter(_rows(spark, [(2, 2.0, "b")])))], batchId=7)
    # replay of batch 0 detected via the sidecar/labels: skipped,
    # and the sidecar must still record 7 afterwards, not 0
    w.commit([w.write(iter(_rows(spark, [(3, 3.0, "c")])))], batchId=0)
    with open(w._txn_path()) as fh:
        assert json.load(fh)["last_batch"] == 7
    assert cow.read(spark, path).count() == 3


def test_sink_partitioned_bloom_constrained_parity(spark):
    """Full table-feature parity for the STREAMING sink (mirrors the
    r7 batch-writer upgrade): partitioned staging under Hive dirs with
    typed min==max partition stats, engine-identical XXH64 manifest
    blooms, and per-task CHECK validation before any byte lands."""
    path = _fresh("parity")
    cow.create(
        spark,
        path,
        spark.createDataFrame([(1, 1.0, "us")], "k long, v double, region string"),
        partition_by=["region"],
        bloom_columns=["k"],
        check_constraints={"vpos": "v > 0"},
    )
    w = _writer(spark, path)
    rows = spark.createDataFrame(
        [(2, 2.0, "us"), (3, 3.0, "eu"), (4, 4.0, None)],
        "k long, v double, region string",
    ).collect()
    w.commit([w.write(iter(rows))], batchId=0)
    got = {tuple(r) for r in cow.read(spark, path).collect()}
    assert (4, 4.0, None) in got and len(got) == 4
    m = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    new = [e for e in m["files"] if e["name"].rsplit("/", 1)[-1].startswith("sink-")]
    assert len(new) == 3  # one file per partition value
    by_region = {e["partition"]["region"]: e for e in new}
    assert by_region["eu"]["stats"]["region"] == ["eu", "eu"]
    assert by_region["__HIVE_DEFAULT_PARTITION__"]["nulls"]["region"] == 1
    assert all("blooms" in e and "k" in e["blooms"] for e in new)
    # bloom BIT-parity with engine staging for the same single value
    eng = _fresh("parity_eng")
    cow.create(
        spark,
        eng,
        spark.createDataFrame([(1, 1.0, "us")], "k long, v double, region string"),
        partition_by=["region"],
        bloom_columns=["k"],
    )
    cow.append(
        spark, eng, spark.createDataFrame([(3, 3.0, "eu")], "k long, v double, region string")
    )
    me = cow._load_manifest(spark, eng, cow.current_snapshot(spark, eng))
    eng_bloom = next(
        e["blooms"]["k"] for e in me["files"] if e["partition"]["region"] == "eu"
        and "blooms" in e
    )
    assert by_region["eu"]["blooms"]["k"] == eng_bloom
    # engine DML prunes and rewrites sink-staged partitions
    cow.delete(spark, path, "region = 'eu'")
    assert {r["k"] for r in cow.read(spark, path).collect()} == {1, 2, 4}
    # a violating batch fails in write() BEFORE staging anything
    bad = spark.createDataFrame([(9, -1.0, "us")], "k long, v double, region string").collect()
    with pytest.raises(ValueError, match="vpos"):
        w.write(iter(bad))
    # NULL passes (three-valued CHECK)
    nullrow = spark.createDataFrame([(10, None, "us")], "k long, v double, region string").collect()
    w.commit([w.write(iter(nullrow))], batchId=1)
    assert cow.read(spark, path).count() == 4


def test_sink_nonportable_check_fails_at_start(spark):
    path = _fresh("np")
    cow.create(
        spark,
        path,
        spark.createDataFrame([(1, "x")], "k long, s string"),
        check_constraints={"weird": "xxhash64(s) != 0"},
    )
    with pytest.raises(ValueError, match="not portable"):
        _writer(spark, path)


def test_sink_generated_columns_recompute(spark):
    """r8 punch-list #5, streaming side: the sink recomputes
    DuckDB-expressible generated columns per micro-batch task —
    stale stream values overwritten, engine read sees the
    expression's values, manifest keeps the spec."""
    path = _fresh("gen_ok")
    cow.create(
        spark,
        path,
        spark.createDataFrame([(1, 10.0, "ab")], "k long, v double, s string"),
        generated_columns={"v2": "v * 2"},
    )
    w = _writer(spark, path)
    rows = spark.createDataFrame(
        [(2, 20.0, "cd", -9.0), (3, 30.0, "ef", -9.0)],
        "k long, v double, s string, v2 double",
    ).collect()
    w.commit([w.write(iter(rows))], batchId=0)
    got = {(r["k"], r["v2"]) for r in cow.read(spark, path).collect()}
    assert got == {(1, 20.0), (2, 40.0), (3, 60.0)}
    m = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    assert m.get("generated_columns") == {"v2": "v * 2"}


def test_sink_generated_columns_real_writestream(spark):
    """End-to-end through Spark's real streaming plumbing (not the
    protocol-level test above): a rate-shaped memory stream that
    OMITS the generated column writes into a generated-column table
    via writeStream.format('cowsink'); the sink recomputes the
    values per micro-batch and the engine read sees the expression's
    results."""
    import os
    import shutil
    import tempfile

    from data_warehouse_solution_spark.sources.cow_sink import register_cow_sink

    work = tempfile.mkdtemp(prefix="dws_sink_genstream_")
    table = os.path.join(work, "t")
    seed = spark.createDataFrame([(0, 1.0)], "k long, v double")
    cow.create(spark, table, seed, generated_columns={"v2": "v * 2"})
    register_cow_sink(spark)
    src = os.path.join(work, "in")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k long, v double"
    ).coalesce(1).write.parquet(os.path.join(src, "batch1"))
    stream = (
        spark.readStream.schema("k long, v double")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = (
        stream.writeStream.format("cowsink")
        .option("tablePath", table)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    got = {(r["k"], r["v2"]) for r in cow.read(spark, table).collect()}
    assert got == {(0, 2.0), (1, 20.0), (2, 40.0)}
    shutil.rmtree(work, ignore_errors=True)


def test_mid_stream_partition_evolution_fails_loudly(spark):
    """r11: a partition-spec evolution landing WHILE a sink query is
    live invalidates the staged files' layout — the drift check must
    fail the batch loudly (restart picks up the new spec), never
    silently commit single-level files into a two-level table as if
    nothing changed."""
    path = _fresh("evo_drift")
    cow.create(
        spark,
        path,
        spark.createDataFrame([(0, 0.5, "s0")], "k long, v double, s string"),
        partition_by=["s"],
    )
    w = _writer(spark, path)
    w.commit([w.write(iter(_rows(spark, [(1, 1.5, "a")])))], batchId=0)
    assert cow.read(spark, path).count() == 2
    # concurrent evolution between batches of the SAME live writer
    cow.alter_add_partition_field(spark, path, "k")
    msgs = [w.write(iter(_rows(spark, [(2, 2.5, "b")])))]
    with pytest.raises(RuntimeError, match="partitioning.*changed"):
        w.commit(msgs, batchId=1)
    # nothing half-committed; a FRESH writer (stream restart) captures
    # the new spec and lands two-level files
    assert cow.read(spark, path).count() == 2
    w2 = _writer(spark, path)
    w2.commit([w2.write(iter(_rows(spark, [(3, 3.5, "c")])))], batchId=1)
    m = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    new = [f["name"] for f in m["files"] if "sink-" in f["name"]]
    from data_warehouse_solution_spark.cowtable import _part_keys

    assert any(_part_keys(n) == ("s", "k") for n in new)
    assert cow.read(spark, path).count() == 3


def test_sink_append_references_parent_shards(spark, monkeypatch):
    """r12 O(new) commit metadata, sink parity: a streaming batch into
    a SHARDED table references the parent's shard names from the
    manifest proper (no expansion, no rewrite) and writes at most one
    new content shard; n_files arity carries forward."""
    import data_warehouse_solution_spark.sources.cow_sink as sink_mod

    monkeypatch.setattr(cow, "MANIFEST_SHARD_ROWS", 4)
    path = _fresh("shardref")
    df = spark.createDataFrame(
        [(i, float(i), f"s{i}") for i in range(40)],
        "k long, v double, s string",
    ).repartition(13)
    cow.create(spark, path, df)  # 13 files -> 4 shards
    m1 = json.loads(
        cow._read_file(spark, cow._manifest_path(path, 1)).decode()
    )
    n0 = m1["n_files"]
    assert len(m1["file_shards"]) > 2 and n0 == 13
    w = _writer(spark, path)
    msgs = [w.write(iter(_rows(spark, [(99, 9.5, "z")])))]
    w.commit(msgs, batchId=1)
    m2 = json.loads(
        cow._read_file(spark, cow._manifest_path(path, 2)).decode()
    )
    # every NON-TRAILING parent shard must be referenced by name;
    # the sink may tail-merge the trailing small shard with the new
    # entry (its own 10k threshold) — either way exactly ONE new
    # content shard is written for the batch
    assert "files" not in m2
    new = set(m2["file_shards"]) - set(m1["file_shards"])
    assert len(new) == 1
    assert set(m1["file_shards"][:-1]) <= set(m2["file_shards"])
    assert m2["n_files"] == n0 + 1
    assert cow.read(spark, path).count() == 41


def test_sink_commit_carries_tags_defaults_txns(spark):
    """r12 review find: a cowsink commit used to DROP the head's tags
    (forfeiting vacuum's tag retention — file deletion under a live
    VERSION AS OF promise), column defaults, and engine writers' txn
    replay maps. All three must survive a sink batch."""
    path = _fresh("carry")
    cow.create(
        spark, path,
        spark.createDataFrame([(0, 0.5, "seed")], "k long, v double, s string"),
        column_defaults={"s": "'dflt'"},
    )
    cow.append(
        spark, path,
        spark.createDataFrame([(1, 1.5, "a")], "k long, v double, s string"),
        txn_app_id="engine-writer", txn_version=41,
    )
    cow.create_tag(spark, path, "v1")
    w = _writer(spark, path)
    w.commit([w.write(iter(_rows(spark, [(2, 2.5, "b")])))], batchId=1)
    head = cow._load_manifest(spark, path, cow.current_snapshot(spark, path))
    assert "v1" in (head.get("tags") or {}), "sink dropped tags"
    assert (head.get("column_defaults") or {}).get("s") == "'dflt'", (
        "sink dropped column defaults"
    )
    assert (head.get("txns") or {}).get("engine-writer") == 41, (
        "sink dropped the engine txn replay map"
    )
    # the promises still function after the sink commit
    from data_warehouse_solution_spark.sql_gate import run_sql

    n_tag = run_sql(
        spark, f"SELECT count(*) AS n FROM cow.`{path}` VERSION AS OF 'v1'"
    ).first().n
    assert n_tag == 2
    st = cow.append(
        spark, path,
        spark.createDataFrame([(1, 1.5, "a")], "k long, v double, s string"),
        txn_app_id="engine-writer", txn_version=41,
    )
    assert st.get("replayed") is True, "replay evidence lost"
    cow.append(spark, path, spark.createDataFrame([(3, 3.5)], "k long, v double"))
    got = {r["k"]: r["s"] for r in cow.read(spark, path).collect()}
    assert got[3] == "dflt", "default stopped applying after sink commit"


@pytest.mark.parametrize("writer", ["cowsink", "cow_append", "cow_overwrite"])
def test_writer_commits_keep_count_stamps(spark, monkeypatch, writer):
    """A writer commit onto a SHARDED head, and every engine append
    after it, stamps ``n_files`` / ``n_rows`` / ``n_rows_live`` equal
    to the snapshot's live counts, so ``history()`` reads manifest
    propers only."""
    from data_warehouse_solution_spark.sources.cow_batch import register_cow_batch

    monkeypatch.setattr(cow, "MANIFEST_SHARD_ROWS", 4)
    path = _fresh(f"stamps_{writer}")
    schema = "k long, v double, s string"
    cow.create(spark, path, spark.createDataFrame([(0, 0.5, "seed")], schema))
    for i in range(6):
        cow.append(spark, path, spark.createDataFrame([(10 + i, 1.0, "x")], schema))
    head = json.loads(cow._read_file(spark, cow._manifest_path(path, 7)).decode())
    assert "file_shards" in head  # the writer commits onto a sharded head
    batch = [(100, 1.5, "a"), (101, 2.5, "b")]
    if writer == "cowsink":
        w = _writer(spark, path)
        w.commit([w.write(iter(_rows(spark, batch)))], batchId=0)
    else:
        register_cow_batch(spark)
        (
            spark.createDataFrame(batch, schema)
            .write.format("cow")
            .option("tablePath", path)
            .mode("overwrite" if writer == "cow_overwrite" else "append")
            .save()
        )
    assert cow.current_snapshot(spark, path) == 8
    for i in range(3):
        cow.append(spark, path, spark.createDataFrame([(200 + i, 3.0, "z")], schema))
    want = {}
    for n in range(8, 12):
        files = cow._load_manifest(spark, path, n)["files"]
        want[n] = (len(files), sum(f["rows"] for f in files), cow.read(spark, path, n).count())
        raw = json.loads(cow._read_file(spark, cow._manifest_path(path, n)).decode())
        assert (raw.get("n_files"), raw.get("n_rows"), raw.get("n_rows_live")) == want[n], n
    loads = []
    real = cow._load_manifest
    monkeypatch.setattr(
        cow, "_load_manifest", lambda s, p, n: (loads.append(n), real(s, p, n))[1]
    )
    got = {
        r["snapshot_id"]: (r["n_files"], r["n_rows"], r["n_rows_live"])
        for r in cow.history(spark, path)
    }
    assert [n for n in loads if n >= 8] == [], f"history expanded snapshots {loads}"
    assert {n: got[n] for n in want} == want


def test_append_onto_unstamped_head_stamps_again(spark, monkeypatch):
    """A sharded head without ``n_rows`` stamps (written before writer
    commits stamped them) does not propagate the gap: the next engine
    append counts the head's entries once and stamps its own snapshot."""
    monkeypatch.setattr(cow, "MANIFEST_SHARD_ROWS", 4)
    path = _fresh("restamp")
    schema = "k long, v double, s string"
    cow.create(spark, path, spark.createDataFrame([(0, 0.5, "seed")], schema))
    for i in range(6):
        cow.append(spark, path, spark.createDataFrame([(10 + i, 1.0, "x")], schema))
    mpath = cow._manifest_path(path, 7)
    head = json.loads(cow._read_file(spark, mpath).decode())
    assert "file_shards" in head
    for k in ("n_rows", "n_rows_live"):
        head.pop(k)
    cow._write_file(spark, mpath, json.dumps(head).encode())
    cow._purge_table_caches(path)
    cow.append(spark, path, spark.createDataFrame([(99, 9.5, "z")], schema))
    raw = json.loads(cow._read_file(spark, cow._manifest_path(path, 8)).decode())
    files = cow._load_manifest(spark, path, 8)["files"]
    assert (raw["n_files"], raw["n_rows"], raw["n_rows_live"]) == (
        len(files), sum(f["rows"] for f in files), cow.read(spark, path).count()
    )
