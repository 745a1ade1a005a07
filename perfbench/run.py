"""Warehouse benchmark: one command, three closed-loop workloads.

    python3 perfbench/run.py --workload dml_point --seed 1 --seconds 20 --trace 0

Runs from the root of a checkout. It builds a fresh engine session
(``session.build_session`` on ``local[nproc]``), sets the workload up
three times from seeded inputs, measures one closed loop with one
client thread on the last set-up's fresh tables, checks every output
against DuckDB and prints a human-readable report on stderr. The last
line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). A failed correctness check
exits with code 1 and prints no result. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "data_warehouse_solution_spark"
WORKLOADS = ("dml_point", "olap_read", "etl_batch")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: Path) -> None:
    """Keep every file the run writes inside ``work`` and make the
    session independent of the caller's environment."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    tmp = work / "tmp"
    tmp.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["TZ"] = "UTC"
    time.tzset()
    # Python workers import the engine package from the checkout, not
    # from whatever directory they happen to start in
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    sys.path.insert(1, str(ROOT))


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (PACKAGE / "__init__.py").is_file():
        print(f"perfbench: engine package not found at {PACKAGE}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    if work.exists() and any(work.iterdir()):
        print(f"perfbench: refusing to reuse non-empty work dir {work}", file=sys.stderr)
        return 2
    work.mkdir(parents=True, exist_ok=True)
    try:
        isolate(work)
        # imported after isolate(), so the engine comes from ROOT
        import suite
        from harness import CheckFailed

        try:
            result = suite.run(args, work, ROOT / ".perfbench_out")
        except CheckFailed as err:
            print(f"perfbench: correctness check failed: {err}", file=sys.stderr)
            return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".perfbench_work").rmdir()
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
