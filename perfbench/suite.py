"""Set-up, measurement, checks and metrics for one benchmark run."""

from __future__ import annotations

import importlib
import json
import shutil
import subprocess
import sys
import time
from pathlib import Path

import duckdb

import layers
from harness import (
    SETUP_REPS, TAIL_Q, CheckFailed, Loop, driver_memory, heap_retained_mb, median, nproc,
    peak_rss_mb, percentile, reset_peak_rss, tree_bytes,
)
from data_warehouse_solution_spark import sql_gate
from data_warehouse_solution_spark.session import EngineConfig, build_session

MODULES = {"dml_point": "wl_dml", "olap_read": "wl_olap", "etl_batch": "wl_etl"}


class Env:
    """What a workload needs from the run: the session, the seed, the
    gate, and helpers that check engine output against DuckDB."""

    def __init__(self, spark, seed: int, work: Path):
        self.spark = spark
        self.seed = seed
        self.work = work

    def sql(self, statement: str):
        return sql_gate.run_sql(self.spark, statement)

    def use_catalog(self, path: str) -> None:
        self.spark.conf.set("spark.dws.cow.catalogDir", path)

    def duck(self) -> duckdb.DuckDBPyConnection:
        return duckdb.connect(config={
            "threads": 2, "memory_limit": "1GB",
            "temp_directory": str(self.work / "duckdb-tmp"),
        })

    def export(self, select: str, label: str) -> str:
        """Write a gate SELECT's result to parquet for DuckDB to compare."""
        out = str(self.work / "export" / label)
        self.sql(select).write.mode("overwrite").parquet(out)
        return out

    @staticmethod
    def same_content(duck, expected_sql: str, got_parquet: str, label: str) -> None:
        got = f"SELECT * FROM read_parquet('{got_parquet}/*.parquet')"
        for a, b, what in ((expected_sql, got, "missing"), (got, expected_sql, "unexpected")):
            diff = duck.execute(f"SELECT * FROM ({a}) EXCEPT ALL SELECT * FROM ({b}) LIMIT 3").fetchall()
            if diff:
                raise CheckFailed(f"{label}: {what} rows, e.g. {diff}")


def build_spark(work: Path, trace: bool):
    extra = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.dws.cow.catalogDir": str(work / "catalog"),
        "spark.local.dir": str(work / "spark-local"),
        # no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # the traced run reads every job and stage back from the store
        for key in ("spark.ui.retainedJobs", "spark.ui.retainedStages", "spark.sql.ui.retainedExecutions"):
            extra[key] = "1000000"
    t0 = time.perf_counter()
    spark = build_session(EngineConfig(
        master=f"local[{nproc()}]", driver_memory=driver_memory(), extra=extra,
    ))
    return spark, time.perf_counter() - t0


def measure(env: Env, wl, seconds: float, tracer=None) -> dict:
    """One closed loop on the workload's freshly built tables, then its
    correctness check. Returns the loop and what was measured around it."""
    roots = wl.table_roots()
    before = sum_bytes(roots)
    loop = Loop(on_op=(lambda op: tracer.op(wl.span_name(op))) if tracer else None)
    reset_peak_rss()
    started = time.time()
    if tracer:
        layers.install(tracer)
    try:
        loop.run(wl.ops(), seconds)
    finally:
        if tracer:
            tracer.unwrap_all()
    out = {
        "loop": loop,
        "started": started,
        "driver_peak_mb": peak_rss_mb(),
        "heap_retained_mb": heap_retained_mb(env.spark),
        "bytes_before": before,
        "bytes_after": sum_bytes(roots),
    }
    duck = env.duck()
    try:
        wl.check(loop.done, duck)
    finally:
        duck.close()
    return out


def layer_state(env: Env, wl) -> dict:
    """Files in each table's live snapshot, and bytes on disk over the
    size of one fresh rewrite of it."""
    from data_warehouse_solution_spark import cowtable

    files = on_disk = fresh = 0
    for i, path in enumerate(wl.table_paths()):
        files += cowtable.describe_detail(env.spark, path)["num_files"]
        b = tree_bytes(path)
        on_disk += b["manifest"] + b["data"]
        out = str(env.work / "rewrite" / str(i))
        cowtable.read(env.spark, path).write.mode("overwrite").parquet(out)
        fresh += tree_bytes(out)["data"]
    return {"files_at_end": files, "space_amp": on_disk / fresh}


def sum_bytes(roots: list[str]) -> dict[str, int]:
    total = {"manifest": 0, "data": 0, "files": 0}
    for r in roots:
        for k, v in tree_bytes(r).items():
            total[k] += v
    return total


def end_to_end(setup_s: float, m: dict) -> dict:
    loop = m["loop"]
    ok = sum(o.ok for o in loop.done)
    return {
        "setup_s": setup_s,
        "ops_per_s": ok / loop.wall,
        "op_p50_s": median(loop.latencies()),
        "op_p75_s": percentile(loop.latencies(), TAIL_Q),
        "heap_retained_mb": m["heap_retained_mb"],
        "driver_peak_mb": m["driver_peak_mb"],
    }


def report(name: str, m: dict, metrics: dict) -> None:
    """The readable report on standard error."""
    loop = m["loop"]
    n, nr = len(loop.done), len(loop.latencies("read"))
    log(f"[{name}] {n} ops ({loop.failed} failed) in {loop.wall:.2f} s; median s by kind: " + ", ".join(
        f"{k} {median(loop.latencies(kinds=(k,))):.3f} (n={len(loop.latencies(kinds=(k,)))})"
        for k in sorted({o.kind for o in loop.done})))
    samples = {"op_p50_s": n, "op_p75_s": n, "read_p50_s": nr, "read_p75_s": nr}
    for k, v in metrics.items():
        note = f"  (n={samples[k]})" if k in samples else ""
        log(f"[{name}] {k} = {v:.6g} {layers.UNITS[k]}{note}")


def log(msg: str) -> None:
    print(f"[perfbench {time.strftime('%H:%M:%S')}] {msg}", file=sys.stderr)


def run(args, work: Path, out_dir: Path) -> dict:
    spark, session_s = build_spark(work, bool(args.trace))
    log(f"session built in {session_s:.2f} s")
    wl = None
    try:
        env = Env(spark, args.seed, work)
        wl = importlib.import_module(MODULES[args.workload]).Workload(env)
        builds: list[float] = []
        for i in range(SETUP_REPS):
            rep = work / f"rep{i}"
            t0 = time.perf_counter()
            wl.build(str(rep))
            builds.append(time.perf_counter() - t0)
            log(f"set-up {i + 1} took {builds[-1]:.2f} s")
            shutil.rmtree(work / f"rep{i - 1}", ignore_errors=True)
        tracer = None
        if args.trace:
            import spans

            tracer = spans.Tracer(spark)
        m = measure(env, wl, args.seconds, tracer)
        log("measured and checked")
        out_dir.mkdir(exist_ok=True)
        with open(out_dir / f"ops-{args.workload}-{args.seed}.jsonl", "w") as f:
            for o in m["loop"].done:
                f.write(json.dumps({"kind": o.kind, "cls": o.cls, "latency": o.latency,
                                    "ok": o.ok}) + "\n")
        setup_s = session_s + median(builds)
        e2e = end_to_end(setup_s, m)
        metrics = e2e
        if tracer:
            tracer.collect_jobs(m["started"])
            tracer.dump(str(out_dir / f"spans-{args.workload}-{args.seed}.jsonl"))
            metrics = layers.per_layer(wl, session_s, m, tracer, layer_state(env, wl))
        report(args.workload, m, {**e2e, **(metrics if tracer else layers.workload_breakdown(wl, m))})
        return {
            "correct": True,
            "attempted": len(m["loop"].done),
            "failed": m["loop"].failed,
            "metrics": {k: {"value": v, "unit": layers.UNITS[k]} for k, v in metrics.items()},
        }
    finally:
        if wl is not None:
            wl.close()
        stop(spark)
        log("session stopped")


def stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
