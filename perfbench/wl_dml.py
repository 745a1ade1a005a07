"""``dml_point``: single-row statements against a COW and a MOR table.

Driver-bound: about half of each commit is gate, catalog and manifest
work outside Spark jobs, so this is where ``sql_gate``, ``catalog``
and the ``cowtable`` commit path dominate, and where writes run beside
point reads. The mix is fixed by count; the seed permutes order and
picks keys.
"""

from __future__ import annotations

import random
from typing import Iterator

import gen
from harness import CheckFailed, Op, WorkloadBase

TABLES = {"cow": "dml.orders_cow", "mor": "dml.orders_mor"}
COLS = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
# one round of 40 statements: 35% UPDATE, 15% DELETE, 10% INSERT,
# 5% ten-row MERGE and 35% point SELECT. Writes split evenly between
# the tables; more point reads go to the COW table, so the median read
# lies inside the COW reads' band rather than at the edge between the
# fast COW and the slow MOR reads
ROUND = {
    "cow": {"update": 7, "delete": 3, "insert": 2, "merge": 1, "select": 10},
    "mor": {"update": 7, "delete": 3, "insert": 2, "merge": 1, "select": 4},
}
MAX_ROUNDS = 40
NEW_KEY_BASE = 10_000_000


def _row_sql(r: random.Random, key: int) -> str:
    day = gen.EPOCH.toordinal() + r.randrange(gen.DATE_SPAN_DAYS)
    ts = gen.dt.datetime.fromordinal(day)
    return (
        f"(CAST({key} AS BIGINT), CAST({r.randint(1, gen.N_CUSTOMERS)} AS BIGINT), "
        f"'{r.choice('FOP')}', {r.randint(90_000, 50_000_000) / 100!r}, "
        f"{gen.ts_literal(ts)}, '{r.choice(gen.PRIORITIES)}')"
    )


def plan(seed: int, rounds: int) -> list[dict]:
    """The statement sequence: ``sql`` runs on the engine, ``ref`` is
    the same change for DuckDB (MERGE as delete-then-insert)."""
    r = random.Random(f"{seed}/dml_point")
    new_key = NEW_KEY_BASE
    out = []
    for _ in range(rounds):
        slots = [(mode, kind) for mode in TABLES for kind, n in ROUND[mode].items() for _ in range(n)]
        r.shuffle(slots)
        for mode, kind in slots:
            t = TABLES[mode]
            k = r.randint(1, gen.N_ORDERS)
            if kind == "update":
                sql = (f"UPDATE {t} SET o_totalprice = o_totalprice + {r.randint(1, 400) / 4!r}, "
                       f"o_orderpriority = '{r.choice(gen.PRIORITIES)}' WHERE o_orderkey = {k}")
                ref = [sql]
            elif kind == "delete":
                sql = f"DELETE FROM {t} WHERE o_orderkey = {k}"
                ref = [sql]
            elif kind == "insert":
                new_key += 1
                sql = f"INSERT INTO {t} VALUES {_row_sql(r, new_key)}"
                ref = [sql]
            elif kind == "merge":
                keys = r.sample(range(1, gen.N_ORDERS + 1), 5) + list(range(new_key + 1, new_key + 6))
                new_key += 5
                rows = ", ".join(_row_sql(r, key) for key in keys)
                sql = (f"MERGE INTO {t} t USING (SELECT * FROM VALUES {rows} AS s({COLS})) s "
                       "ON t.o_orderkey = s.o_orderkey "
                       "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
                ref = [f"DELETE FROM {t} WHERE o_orderkey IN ({', '.join(map(str, keys))})",
                       f"INSERT INTO {t} VALUES {rows}"]
            else:
                sql = f"SELECT {COLS} FROM {t} WHERE o_orderkey = {k}"
                ref = [sql]
            out.append({"kind": kind, "mode": mode, "sql": sql, "ref": ref})
    return out


class Workload(WorkloadBase):
    def __init__(self, env):
        self.env = env
        self.paths: dict[str, str] = {}

    def build(self, rep: str) -> None:
        """One set-up: inputs, both tables, and the pre-generated statements."""
        env = self.env
        self.rep = rep
        self.inputs = gen.write_parquet(
            {"orders": gen.tpch_tables(env.seed)["orders"]}, f"{rep}/inputs"
        )
        env.use_catalog(f"{rep}/catalog")
        for mode, name in TABLES.items():
            self.paths[name] = f"{rep}/tables/{mode}"
            env.sql(
                f"CREATE TABLE {name} USING cow BLOOM BY (o_orderkey) "
                f"TBLPROPERTIES ('write_mode'='{mode}') LOCATION '{self.paths[name]}' "
                f"AS SELECT /*+ REPARTITION(8) */ {COLS} FROM parquet.`{self.inputs['orders']}`"
            ).collect()
        self.plan = plan(env.seed, MAX_ROUNDS)

    def ops(self) -> Iterator[Op]:
        per_round = sum(sum(kinds.values()) for kinds in ROUND.values())
        for i, step in enumerate(self.plan):
            yield Op(step["kind"], "read" if step["kind"] == "select" else "write",
                     self._runner(step["sql"], step["kind"] == "select"), meta=step,
                     last_in_group=(i + 1) % per_round == 0)

    def _runner(self, sql: str, rows: bool):
        if rows:
            return lambda: [tuple(r) for r in self.env.sql(sql).collect()]
        return lambda: [r.asDict() for r in self.env.sql(sql).collect()]

    @staticmethod
    def span_name(op: Op) -> str:
        return f"sql_gate.{op.kind}"

    def check(self, done: list[Op], duck) -> None:
        """Replay the statements that ran in DuckDB: every point SELECT
        and both tables' final content must match."""
        duck.execute("CREATE SCHEMA dml")
        for name in TABLES.values():
            duck.execute(f"CREATE TABLE {name} AS SELECT {COLS} FROM read_parquet('{self.inputs['orders']}')")
        for i, op in enumerate(done):
            if not op.ok:
                continue
            for stmt in op.meta["ref"]:
                got = duck.execute(stmt).fetchall()
            if op.kind == "select" and sorted(got) != sorted(op.result):
                raise CheckFailed(f"dml_point op {i}: {op.meta['sql']!r} returned {op.result}, expected {got}")
        for name in TABLES.values():
            out = self.env.export(f"SELECT {COLS} FROM {name}", name)
            self.env.same_content(duck, f"SELECT {COLS} FROM {name}", out, name)
