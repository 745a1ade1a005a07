"""Run environment, op recording and statistics for the warehouse benchmark."""

from __future__ import annotations

import contextlib
import gc
import math
import os
import sys
import time
import traceback
from dataclasses import dataclass, field
from decimal import Decimal
from typing import Any, Callable, Iterator

# percentile reported as the tail: every workload runs at least
# MIN_OPS ops, so at least ten samples lie beyond it
TAIL_Q = 0.75
MIN_OPS = 40
# set-ups per run; setup_s reports their median. All but the last are
# thrown away: they warm the JVM up, and the loop runs on fresh tables
SETUP_REPS = 3


class CheckFailed(Exception):
    """An output of the engine differs from the reference result."""


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_memory() -> str:
    """4g, or a quarter of the box's memory where that is less."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, total_kb // (4 * 1024 * 1024)))}g"


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile; +inf entries (failed ops) sort last."""
    if not values:
        return math.nan
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def median(values: list[float]) -> float:
    return percentile(values, 0.5)


def tree_bytes(path: str) -> dict[str, int]:
    """Bytes under ``path``, split into manifests and everything else."""
    out = {"manifest": 0, "data": 0, "files": 0}
    for d, _dirs, files in os.walk(path):
        key = "manifest" if "_manifests" in d.split(os.sep) else "data"
        for f in files:
            out[key] += os.path.getsize(os.path.join(d, f))
            out["files"] += 1
    return out


def reset_peak_rss() -> None:
    """Restart VmHWM so the peak covers only what follows (Linux)."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return math.nan


def drain_listeners(spark) -> None:
    """Wait until Spark's listener bus has delivered every event."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def heap_retained_mb(spark) -> float:
    """JVM heap in use once Python has dropped its references to JVM
    objects and no listener event is queued: the least of six readings,
    each after a full collection. Spark's context cleaner frees shuffle
    and broadcast state only after a collection has found it
    unreachable, and in the background, so the first readings still
    hold it."""
    gc.collect()
    drain_listeners(spark)
    jvm = spark._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    readings = []
    for _ in range(6):
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        readings.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
    return min(readings)


def same_rows(got: list[tuple], want: list[tuple]) -> bool:
    """Multiset equality; doubles agree to 1e-9 relative, since the
    engines sum in different orders."""
    if len(got) != len(want):
        return False
    got, want = ([tuple(float(v) if isinstance(v, Decimal) else v for v in row) for row in rows]
                 for rows in (got, want))

    def key(row):
        return tuple((0, round(v, 4)) if isinstance(v, float) else (1, str(v)) for v in row)

    for a, b in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(a) != len(b):
            return False
        for x, y in zip(a, b):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None or not math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6):
                    return False
            elif x != y:
                return False
    return True


@dataclass
class Op:
    """One statement a workload issues: ``kind`` names it, ``cls`` is
    ``read`` or ``write``, ``run`` executes it and returns what the
    correctness check needs. ``last_in_group`` marks where the closed
    loop may stop: the end of a round or of an ETL cycle."""

    kind: str
    cls: str
    run: Callable[[], Any]
    meta: dict = field(default_factory=dict)
    last_in_group: bool = True
    # filled in by the loop
    latency: float = math.nan
    ok: bool = False
    result: Any = None


class Loop:
    """A closed loop with one client: the next op starts when the
    previous one has returned. It stops at the end of a group (a round
    of the workload's fixed mix) once ``seconds`` have passed and
    ``min_ops`` ops have run, so every run holds whole rounds. A failed
    op is counted and enters every percentile as +inf, so a failing
    change never reads faster."""

    def __init__(self, on_op: Callable[[Op], Any] | None = None):
        self.done: list[Op] = []
        self.wall = 0.0
        self._on_op = on_op

    def run(self, ops: Iterator[Op], seconds: float, min_ops: int = MIN_OPS) -> None:
        t0 = time.perf_counter()
        for op in ops:
            with self._on_op(op) if self._on_op else contextlib.nullcontext():
                start = time.perf_counter()
                try:
                    op.result = op.run()
                    op.ok = True
                    op.latency = time.perf_counter() - start
                except Exception:  # noqa: BLE001 - the loop counts and reports every failure
                    traceback.print_exc(file=sys.stderr)
                    op.latency = math.inf
            self.done.append(op)
            elapsed = time.perf_counter() - t0
            if op.last_in_group and elapsed >= seconds and len(self.done) >= min_ops:
                break
        self.wall = time.perf_counter() - t0

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.done)

    def latencies(self, cls: str | None = None, kinds: tuple[str, ...] | None = None) -> list[float]:
        return [
            o.latency for o in self.done
            if (cls is None or o.cls == cls) and (kinds is None or o.kind in kinds)
        ]


class WorkloadBase:
    """What the workloads share. ``build`` sets ``rep`` (the set-up's
    directory) and ``paths`` (table name -> COW table directory)."""

    rep: str
    paths: dict[str, str]

    def table_paths(self) -> list[str]:
        return list(self.paths.values())

    def table_roots(self) -> list[str]:
        """Where the set-up's tables and catalog (with any materialized
        view) live."""
        return [f"{self.rep}/tables", f"{self.rep}/catalog"]

    def cycles(self, done: list[Op]) -> list[dict]:
        return []

    def fetch_retries(self) -> int:
        return 0

    def close(self) -> None:
        pass
