"""``olap_read``: analytical reads over tables loaded at set-up.

Spark-execution-bound: scans, joins, aggregates and the merge-on-read
anti-join. ``operators``, ``sources.cow_batch`` and ``cowtable.read``
do the work; gate and commit code do almost none, the opposite of
``dml_point``. One round is a fixed set of 20 reads; the seed permutes
their order and picks the keys of the point and range reads.
"""

from __future__ import annotations

import random
from typing import Iterator

from pyspark.sql import functions as F

import gen
from harness import CheckFailed, Op, WorkloadBase, same_rows

COW_TABLES = ("lineitem", "orders", "customer")
DIMS = ("supplier", "nation", "region")
OPERATORS = ("q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
             "q18_large_orders", "topk_per_group")
MAX_ROUNDS = 30
# orders deleted from the merge-on-read copy at set-up
MOR_DELETES = 300

REVENUE = "SUM(l_extendedprice * (1 - l_discount))"
GATE_READS = {
    "q1": f"""SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
        SUM(l_extendedprice) AS sum_base_price, {REVENUE} AS sum_disc_price,
        AVG(l_discount) AS avg_disc, COUNT(*) AS count_order
        FROM olap.lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus""",
    "q3": f"""SELECT l_orderkey, {REVENUE} AS revenue, o_orderdate, o_orderpriority
        FROM olap.customer JOIN olap.orders ON c_custkey = o_custkey
        JOIN olap.lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10""",
    "q5": f"""SELECT n_name, {REVENUE} AS revenue
        FROM olap.customer JOIN olap.orders ON c_custkey = o_custkey
        JOIN olap.lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1995-01-01 00:00:00'
        GROUP BY n_name""",
    "q6": """SELECT SUM(l_extendedprice * l_discount) AS revenue FROM olap.lineitem
        WHERE l_shipdate >= TIMESTAMP '1994-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1995-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
    "q10": f"""SELECT c_custkey, c_name, {REVENUE} AS revenue, c_acctbal, n_name
        FROM olap.customer JOIN olap.orders ON c_custkey = o_custkey
        JOIN olap.lineitem ON l_orderkey = o_orderkey JOIN nation ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1993-10-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1994-01-01 00:00:00' AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q18": """SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
        SUM(l_quantity) AS qty
        FROM olap.customer JOIN olap.orders ON c_custkey = o_custkey
        JOIN olap.lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (SELECT l_orderkey FROM olap.lineitem GROUP BY l_orderkey
                             HAVING SUM(l_quantity) > 250)
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""",
    "qualify_topk": """SELECT o_orderpriority, o_orderkey, o_totalprice,
        ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice DESC, o_orderkey) AS rn
        FROM olap.orders QUALIFY rn <= 3""",
    "time_travel": """SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS total
        FROM olap.orders_mor VERSION AS OF 1 GROUP BY o_orderstatus""",
    "mor_agg": """SELECT o_orderstatus, COUNT(*) AS n, SUM(o_totalprice) AS total
        FROM olap.orders_mor GROUP BY o_orderstatus""",
    "mor_range": """SELECT * FROM olap.orders_mor
        WHERE o_orderkey BETWEEN {lo} AND {hi}""",
    "orders_point": "SELECT * FROM olap.orders WHERE o_orderkey = {k}",
    "customer_point": "SELECT * FROM olap.customer WHERE c_custkey = {c}",
    "lineitem_range": """SELECT COUNT(*) AS n, SUM(l_quantity) AS qty FROM olap.lineitem
        WHERE l_orderkey BETWEEN {lo} AND {hi}""",
}


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def operator_spec(name: str):
    """A registry operator with its DuckDB oracle."""
    import data_warehouse_solution_spark.operators  # noqa: F401 - registers the operators
    from data_warehouse_solution_spark.registry import spec

    return spec(name)


class Workload(WorkloadBase):
    def __init__(self, env):
        self.env = env

    def build(self, rep: str) -> None:
        """Inputs, the COW tables, and an orders copy in merge-on-read
        mode with a fixed set of deleted orders."""
        env = self.env
        self.rep = rep
        self.inputs = gen.write_parquet(gen.tpch_tables(env.seed), f"{rep}/inputs")
        env.use_catalog(f"{rep}/catalog")
        self.paths = {}
        for t in COW_TABLES:
            self.paths[t] = f"{rep}/tables/{t}"
            hint = "/*+ REPARTITION(8) */ " if t == "lineitem" else ""
            env.sql(f"CREATE TABLE olap.{t} USING cow LOCATION '{self.paths[t]}' "
                    f"AS SELECT {hint}* FROM parquet.`{self.inputs[t]}`").collect()
        self.paths["orders_mor"] = f"{rep}/tables/orders_mor"
        env.sql(f"CREATE TABLE olap.orders_mor USING cow TBLPROPERTIES ('write_mode'='mor') "
                f"LOCATION '{self.paths['orders_mor']}' "
                f"AS SELECT /*+ REPARTITION(4) */ * FROM parquet.`{self.inputs['orders']}`").collect()
        r = random.Random(f"{env.seed}/olap-deletes")
        self.deleted = sorted(r.sample(range(1, gen.N_ORDERS + 1), MOR_DELETES))
        env.sql(f"DELETE FROM olap.orders_mor WHERE o_orderkey IN ({', '.join(map(str, self.deleted))})").collect()
        for t in DIMS:
            env.spark.read.parquet(self.inputs[t]).createOrReplaceTempView(t)
        self.plan = self._plan(MAX_ROUNDS)

    def _plan(self, rounds: int) -> list[dict]:
        r = random.Random(f"{self.env.seed}/olap_read")
        out = []
        for _ in range(rounds):
            lo = r.randint(1, gen.N_ORDERS - 500)
            keys = {"lo": lo, "hi": lo + 500, "k": r.randint(1, gen.N_ORDERS),
                    "c": r.randint(1, gen.N_CUSTOMERS)}
            reads = [{"kind": "select", "id": q, "sql": sql.format(**keys)}
                     for q, sql in GATE_READS.items()]
            reads += [{"kind": "cow_batch", "id": "cow_batch_mor"},
                      {"kind": "cow_batch", "id": "cow_batch_customer"}]
            reads += [{"kind": "operator", "id": q} for q in OPERATORS]
            r.shuffle(reads)
            out += reads
        return out

    def _runner(self, step: dict):
        env, sid = self.env, step["id"]
        if step["kind"] == "select":
            return lambda: _rows(env.sql(step["sql"]))
        if step["kind"] == "operator":
            fn = operator_spec(sid).fn
            return lambda: _rows(fn(env.spark, f"{self.rep}/inputs"))
        if sid == "cow_batch_mor":
            return lambda: _rows(
                env.spark.read.format("cow").option("tablePath", self.paths["orders_mor"]).load()
                .groupBy("o_orderpriority").agg(F.sum("o_totalprice"), F.count("*")))
        return lambda: _rows(
            env.spark.read.format("cow").option("tablePath", self.paths["customer"]).load()
            .where("c_mktsegment = 'BUILDING' AND c_acctbal > 5000")
            .select("c_custkey", "c_name", "c_acctbal"))

    def ops(self) -> Iterator[Op]:
        from data_warehouse_solution_spark.sources.cow_batch import register_cow_batch

        register_cow_batch(self.env.spark)
        per_round = len(GATE_READS) + 2 + len(OPERATORS)
        for i, step in enumerate(self.plan):
            yield Op(step["kind"], "read", self._runner(step), meta=step,
                     last_in_group=(i + 1) % per_round == 0)

    @staticmethod
    def span_name(op: Op) -> str:
        kind, sid = op.kind, op.meta["id"]
        if kind == "select":
            return "sql_gate.select"
        return "sources.cow_batch" if kind == "cow_batch" else f"operators.{sid}"

    def _expected_sql(self, step: dict) -> str:
        sid = step["id"]
        if step["kind"] == "operator":
            return operator_spec(sid).oracle
        if sid == "cow_batch_mor":
            return ("SELECT o_orderpriority, SUM(o_totalprice), COUNT(*) FROM olap.orders_mor "
                    "GROUP BY o_orderpriority")
        if sid == "cow_batch_customer":
            return ("SELECT c_custkey, c_name, c_acctbal FROM olap.customer "
                    "WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000")
        return step["sql"].replace("olap.orders_mor VERSION AS OF 1", "olap.orders")

    def check(self, done: list[Op], duck) -> None:
        """Every result equals DuckDB over the input parquet; the MOR
        copy equals orders minus the deleted keys."""
        duck.execute("CREATE SCHEMA olap")
        for t, path in self.inputs.items():
            duck.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            duck.execute(f"CREATE VIEW olap.{t} AS SELECT * FROM read_parquet('{path}')")
        duck.execute("CREATE TABLE deleted (k BIGINT)")
        duck.executemany("INSERT INTO deleted VALUES (?)", [(k,) for k in self.deleted])
        duck.execute("CREATE VIEW olap.orders_mor AS SELECT * FROM olap.orders "
                     "WHERE o_orderkey NOT IN (SELECT k FROM deleted)")
        expected: dict[str, list[tuple]] = {}
        for i, op in enumerate(done):
            if not op.ok:
                continue
            sql = self._expected_sql(op.meta)
            if sql not in expected:
                expected[sql] = duck.execute(sql).fetchall()
            if not same_rows(op.result, expected[sql]):
                raise CheckFailed(f"olap_read op {i} ({op.meta['id']}): got {op.result[:5]}, "
                                  f"expected {expected[sql][:5]}")
