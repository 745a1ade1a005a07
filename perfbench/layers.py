"""Which engine functions the traced run wraps, and the per-layer
metrics computed from its spans, jobs and the workload's own counts.

Times are means per call of the named function (or per op for
``spark.*``), so they do not grow with run length. A layer a workload
never calls reads 0 on that workload: those are the predicted
no-change pairings recorded in ``perfbench/README.md``.
"""

from __future__ import annotations

from collections import defaultdict

from harness import TAIL_Q, median, percentile
from spans import Tracer, union_length

GATE_VERBS = ("select", "insert", "update", "delete", "merge", "copy", "refresh", "optimize")
COW_VERBS = ("read", "append", "update", "delete", "merge", "copy_into", "compact")
OPERATORS = ("q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
             "q18_large_orders", "topk_per_group")
INGEST_FNS = ("ingest_many", "ingest", "read_source", "fetch_with_retry")

UNITS = {
    # end to end
    "setup_s": "s", "ops_per_s": "1/s", "op_p50_s": "s", "op_p75_s": "s",
    "heap_retained_mb": "MB", "driver_peak_mb": "MB",
    # per workload
    "commit_p50_s": "s", "commit_p75_s": "s", "read_p50_s": "s", "read_p75_s": "s",
    "cycle_p50_s": "s",
    "rows_per_s": "rows/s", "bytes_written_per_commit": "B", "space_amp": "ratio",
    # per layer
    "session.build_s": "s",
    "ingest.fetch_s": "s", "ingest.fetch_retries": "count", "ingest.read_source_s": "s",
    "ingest.ingest_s": "s", "ingest.ingest_many_s": "s", "ingest.spark_jobs_per_file": "count",
    "ingest.driver_only_s": "s",
    **{f"sql_gate.run_sql_s.{v}": "s" for v in GATE_VERBS},
    **{f"sql_gate.self_s.{v}": "s" for v in GATE_VERBS},
    "catalog.resolve_s": "s", "catalog.resolve_calls_per_stmt": "count",
    **{f"cowtable.{v}_s": "s" for v in COW_VERBS},
    **{f"cowtable.self_s.{v}": "s" for v in COW_VERBS},
    **{f"cowtable.spark_jobs.{v}": "count" for v in COW_VERBS},
    "cowtable.current_snapshot_calls_per_stmt": "count", "cowtable.files_rewritten_ratio": "ratio",
    "cowtable.manifest_bytes_per_commit": "B", "cowtable.data_bytes_per_commit": "B",
    "cowtable.files_at_end": "count",
    "matview_sql.refresh_matview_s": "s", "matview_sql.self_s": "s", "matview_sql.spark_jobs": "count",
    "sources.cow_batch_read_s": "s", "sources.cow_batch_spark_jobs": "count",
    **{f"operators.{q}_s": "s" for q in OPERATORS},
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count", "spark.task_s": "s",
    "spark.job_busy_s": "s", "spark.driver_only_share": "ratio", "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B", "spark.input_bytes": "B",
    "trace.overhead_share": "ratio", "trace.op_p50_s": "s",
}
END_TO_END = ("setup_s", "ops_per_s", "op_p50_s", "op_p75_s", "heap_retained_mb",
              "driver_peak_mb")


def install(tracer: Tracer) -> None:
    from data_warehouse_solution_spark import catalog, cowtable, ingest, matview_sql

    # name lookups that run no Spark job: no job group, so no py4j cost
    tracer.wrap(catalog, "resolve", "catalog.resolve", sets_group=False)
    tracer.wrap(cowtable, "current_snapshot", "cowtable.current_snapshot", sets_group=False)
    for v in COW_VERBS:
        tracer.wrap(cowtable, v, f"cowtable.{v}")
    # the gate's whole-row MERGE; it may delegate to merge, and a span
    # inside another of the same name is not counted again
    tracer.wrap(cowtable, "merge_upsert", "cowtable.merge")
    tracer.wrap(matview_sql, "refresh_matview", "matview_sql.refresh_matview")
    for f in INGEST_FNS:
        tracer.wrap(ingest, f, f"ingest.{f}")


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _dur(s) -> float:
    return s.end - s.start


def workload_breakdown(wl, m: dict) -> dict:
    """Commit, read and cycle figures of one loop."""
    loop = m["loop"]
    writes = loop.latencies("write")
    commits = sum(o.ok for o in loop.done if o.cls == "write")
    added = sum(m["bytes_after"][k] - m["bytes_before"][k] for k in ("manifest", "data"))
    cycles = wl.cycles(loop.done)
    return {
        "commit_p50_s": median(writes) if writes else 0.0,
        "commit_p75_s": percentile(writes, TAIL_Q) if writes else 0.0,
        "read_p50_s": median(loop.latencies("read")),
        "read_p75_s": percentile(loop.latencies("read"), TAIL_Q),
        "cycle_p50_s": median([c["seconds"] for c in cycles]) if cycles else 0.0,
        "rows_per_s": (sum(c["rows"] for c in cycles) / sum(c["seconds"] for c in cycles)
                       if cycles else 0.0),
        "bytes_written_per_commit": added / commits if commits else 0.0,
    }


def per_layer(wl, session_s: float, traced: dict, tr: Tracer, state: dict) -> dict:
    """The per-layer metrics of a traced loop; ``state`` holds the
    tables' file count and space amplification at its end."""
    loop = traced["loop"]
    by = defaultdict(list)
    for s in tr.spans.values():
        if not tr.inside_same_name(s):
            by[s.name].append(s)
    roots = [s for s in tr.spans.values() if s.parent is None]
    n_ops = len(roots) or 1
    n_stmt = sum(len(by[f"sql_gate.{v}"]) for v in GATE_VERBS) or 1
    commits = sum(o.ok for o in loop.done if o.cls == "write")

    def self_mean(name):
        return _mean(tr.self_time(s) for s in by[name])

    def jobs_mean(name):
        return _mean(len(tr.subtree_jobs(s)) for s in by[name])

    def busy(s):
        return union_length([(j.start, j.end) for j in tr.subtree_jobs(s)], s.start, s.end)

    m = {"session.build_s": session_s}
    m.update({f"ingest.{f.removesuffix('_with_retry')}_s": _mean(map(_dur, by[f"ingest.{f}"]))
              for f in INGEST_FNS})
    m["ingest.fetch_retries"] = wl.fetch_retries()
    m["ingest.spark_jobs_per_file"] = jobs_mean("ingest.ingest")
    m["ingest.driver_only_s"] = _mean(_dur(s) - busy(s) for s in by["ingest.ingest_many"])
    for v in GATE_VERBS:
        m[f"sql_gate.run_sql_s.{v}"] = _mean(map(_dur, by[f"sql_gate.{v}"]))
        m[f"sql_gate.self_s.{v}"] = self_mean(f"sql_gate.{v}")
    m["catalog.resolve_s"] = _mean(map(_dur, by["catalog.resolve"]))
    m["catalog.resolve_calls_per_stmt"] = len(by["catalog.resolve"]) / n_stmt
    for v in COW_VERBS:
        m[f"cowtable.{v}_s"] = _mean(map(_dur, by[f"cowtable.{v}"]))
        m[f"cowtable.self_s.{v}"] = self_mean(f"cowtable.{v}")
        m[f"cowtable.spark_jobs.{v}"] = jobs_mean(f"cowtable.{v}")
    m["cowtable.current_snapshot_calls_per_stmt"] = len(by["cowtable.current_snapshot"]) / n_stmt
    rewritten = untouched = 0
    for o in loop.done:
        for row in (o.result if o.ok and o.cls == "write" and isinstance(o.result, list) else []):
            if isinstance(row, dict):
                rewritten += row.get("files_rewritten") or 0
                untouched += row.get("files_untouched") or 0
    m["cowtable.files_rewritten_ratio"] = rewritten / (rewritten + untouched) if rewritten + untouched else 0.0
    for k in ("manifest", "data"):
        added = traced["bytes_after"][k] - traced["bytes_before"][k]
        m[f"cowtable.{k}_bytes_per_commit"] = added / commits if commits else 0.0
    m["cowtable.files_at_end"] = state["files_at_end"]
    m["matview_sql.refresh_matview_s"] = _mean(map(_dur, by["matview_sql.refresh_matview"]))
    m["matview_sql.self_s"] = self_mean("matview_sql.refresh_matview")
    m["matview_sql.spark_jobs"] = jobs_mean("matview_sql.refresh_matview")
    m["sources.cow_batch_read_s"] = _mean(map(_dur, by["sources.cow_batch"]))
    m["sources.cow_batch_spark_jobs"] = jobs_mean("sources.cow_batch")
    for q in OPERATORS:
        m[f"operators.{q}_s"] = _mean(map(_dur, by[f"operators.{q}"]))
    jobs = [j for j in tr.jobs.values() if j.span is not None]
    for key in ("stages", "tasks", "task_s", "shuffle_bytes", "spill_bytes", "input_bytes"):
        m[f"spark.{key}"] = sum(getattr(j, key) for j in jobs) / n_ops
    m["spark.jobs"] = len(jobs) / n_ops
    job_busy = sum(busy(s) for s in roots)
    m["spark.job_busy_s"] = job_busy / n_ops
    m["spark.driver_only_share"] = 1 - job_busy / sum(map(_dur, roots)) if roots else 0.0
    m["trace.overhead_share"] = tr.overhead_s / loop.wall
    m["trace.op_p50_s"] = median(loop.latencies())
    m.update(workload_breakdown(wl, traced))
    m["space_amp"] = state["space_amp"]
    return {k: float(m[k]) for k in UNITS if k not in END_TO_END}
