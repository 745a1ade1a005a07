"""``etl_batch``: repeated cycles of the reference load pipeline.

One cycle: ``ingest.ingest_many`` (3 workers) fetches four seeded CSV
files from a one-thread HTTP server on 127.0.0.1 and anonymizes the
events' e-mail column into staging tables; a MERGE upserts the line
item batch into a COW ``lineitem``; COPY INTO appends the staged
events to an append-only table; a retention DELETE, a REFRESH of a
COUNT/SUM/MIN/MAX materialized view and an OPTIMIZE follow; four
reads check the result. Bulk and write-heavy: the same commit code
as ``dml_point`` on large row sets, plus ``ingest`` and
``matview_sql``.
Batches are generated at set-up; the seed picks keys and values.
"""

from __future__ import annotations

import datetime as dt
import functools
import http.server
import os
import threading
from typing import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pcsv

import gen
from harness import CheckFailed, Op, WorkloadBase, same_rows

MAX_CYCLES = 5
UPSERT_SHARE = 0.05  # of the line items, per cycle
NEW_ORDERS = 1_500  # per cycle, with 1..7 lines each
EVENTS = 20_000  # per cycle
RETAIN_DAYS = 5
INGEST_WORKERS = 3
EVENT_DAY0 = dt.datetime(1998, 9, 1)
LI_COLS = [
    ("l_orderkey", "BIGINT"), ("l_partkey", "BIGINT"), ("l_suppkey", "BIGINT"),
    ("l_linenumber", "INT"), ("l_quantity", "DOUBLE"), ("l_extendedprice", "DOUBLE"),
    ("l_discount", "DOUBLE"), ("l_tax", "DOUBLE"), ("l_returnflag", "STRING"),
    ("l_linestatus", "STRING"), ("l_shipdate", "TIMESTAMP_NTZ"),
]
EV_COLS = [("event_id", "BIGINT"), ("ts", "TIMESTAMP"), ("user_id", "BIGINT"),
           ("email", "STRING"), ("event_type", "STRING"), ("value", "DOUBLE")]
EVENT_TYPES = ["view", "click", "cart", "purchase"]
MATVIEW = """SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty,
    MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price
    FROM etl.lineitem GROUP BY l_returnflag, l_linestatus"""
EVENTS_READ = ("SELECT event_type, COUNT(*) AS n, SUM(value) AS total "
               "FROM etl.events GROUP BY event_type")


def _duck_type(t: str) -> str:
    return {"STRING": "VARCHAR", "TIMESTAMP_NTZ": "TIMESTAMP"}.get(t, t)


def _ts_text(days: np.ndarray, seconds: np.ndarray, day0: dt.datetime) -> pa.Array:
    us = (days.astype("int64") * 86_400 + seconds) * 1_000_000
    base = int((day0 - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pc.strftime(pa.array(us + base, type=pa.timestamp("us")), "%Y-%m-%d %H:%M:%S")


def _events(r: np.random.Generator, first_id: int, n: int, day: int) -> pa.Table:
    uid = r.integers(1, 50_001, n)
    return pa.table({
        "event_id": np.arange(first_id, first_id + n),
        "ts": _ts_text(np.full(n, day), r.integers(0, 86_400, n), EVENT_DAY0),
        "user_id": uid,
        "email": [f"user{u}@example.com" for u in uid],
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 4, n)],
        "value": r.integers(1, 100_000, n) / 100.0,
    })


def _write_halves(t: pa.Table, dir_: str, stem: str) -> list[str]:
    half = t.num_rows // 2
    names = []
    for part, piece in (("a", t.slice(0, half)), ("b", t.slice(half))):
        names.append(f"{stem}_{part}")
        pcsv.write_csv(piece, os.path.join(dir_, f"{stem}_{part}.csv"))
    return names


def make_batches(seed: int, lineitem: pa.Table, out: str, cycles: int) -> list[dict]:
    """Per cycle: line-item upserts (about UPSERT_SHARE of the existing
    keys with new values, plus new orders) and a day of events, each
    split over two CSV files; and the retention cutoff."""
    r = gen.rng(seed, "etl-batches")
    n = lineitem.num_rows
    okey = lineitem["l_orderkey"].to_numpy()
    lnum = lineitem["l_linenumber"].to_numpy()
    meta = []
    for c in range(1, cycles + 1):
        d = os.path.join(out, f"c{c}")
        os.makedirs(d)
        pick = r.choice(n, int(n * UPSERT_SHARE), replace=False)
        lines = r.integers(1, 8, NEW_ORDERS)
        new_keys = np.repeat(10_000_000 * c + np.arange(NEW_ORDERS), lines)
        starts = np.repeat(np.cumsum(lines) - lines, lines)
        keys = np.concatenate([okey[pick], new_keys])
        nums = np.concatenate([lnum[pick], np.arange(len(new_keys)) - starts + 1])
        m = len(keys)
        qty = r.integers(1, 51, m).astype("float64")
        li = pa.table({
            "l_orderkey": keys, "l_partkey": r.integers(1, gen.N_PARTS + 1, m),
            "l_suppkey": r.integers(1, gen.N_SUPPLIERS + 1, m), "l_linenumber": nums,
            "l_quantity": qty, "l_extendedprice": qty * r.integers(90_000, 200_000, m) / 100.0,
            "l_discount": r.integers(0, 11, m) / 100.0, "l_tax": r.integers(0, 9, m) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, m)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, m)],
            "l_shipdate": _ts_text(r.integers(0, gen.DATE_SPAN_DAYS, m), np.zeros(m, "int64"),
                                   gen.EPOCH),
        })
        ev = _events(r, c * 1_000_000, EVENTS, c)
        meta.append({
            "dir": d,
            "li": _write_halves(li, d, "li"),
            "ev": _write_halves(ev, d, "ev"),
            "rows": li.num_rows + ev.num_rows,
            "probe_key": int(new_keys[0]),
            "cutoff": EVENT_DAY0 + dt.timedelta(days=c - RETAIN_DAYS),
        })
    return meta


class _Handler(http.server.SimpleHTTPRequestHandler):
    def log_message(self, *args):
        pass

    def do_GET(self):
        self.server.requests[self.path] = self.server.requests.get(self.path, 0) + 1
        super().do_GET()


class Workload(WorkloadBase):
    def __init__(self, env):
        self.env = env
        self.server = None
        self.thread = None

    def _serve(self) -> None:
        """One loopback server thread for the whole run, rooted at the
        run's work dir."""
        handler = functools.partial(_Handler, directory=str(self.env.work))
        self.server = http.server.HTTPServer(("127.0.0.1", 0), handler)
        self.server.requests = {}
        self.thread = threading.Thread(target=self.server.serve_forever, name="perfbench-http")
        self.thread.start()

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.thread.join(timeout=30)

    def build(self, rep: str) -> None:
        """Inputs, the line-item and events tables, the materialized
        view, and every cycle's batch files."""
        env = self.env
        if self.server is None:
            self._serve()
        self.rep = rep
        tables = gen.tpch_tables(env.seed)
        self.inputs = gen.write_parquet({"lineitem": tables["lineitem"]}, f"{rep}/inputs")
        r = gen.rng(env.seed, "etl-events")
        seed_events = pa.concat_tables(
            [_events(r, 10_000 * (i + 2 * RETAIN_DAYS) + 1, 2_000, i)
             for i in range(-2 * RETAIN_DAYS, 0)])
        pcsv.write_csv(seed_events, f"{rep}/inputs/events.csv")
        self.seed_events = f"{rep}/inputs/events.csv"
        env.use_catalog(f"{rep}/catalog")
        self.paths = {"lineitem": f"{rep}/tables/lineitem", "events": f"{rep}/tables/events"}
        env.sql(f"CREATE TABLE etl.lineitem USING cow LOCATION '{self.paths['lineitem']}' "
                f"AS SELECT /*+ REPARTITION(8) */ * FROM parquet.`{self.inputs['lineitem']}`").collect()
        env.spark.read.option("header", True).schema(
            ", ".join(f"{c} {'STRING' if c == 'ts' else t}" for c, t in EV_COLS)
        ).csv(self.seed_events).createOrReplaceTempView("etl_seed_events")
        env.sql(f"CREATE TABLE etl.events USING cow LOCATION '{self.paths['events']}' AS "
                "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, sha2(email, 256) AS email, "
                "event_type, value FROM etl_seed_events").collect()
        env.sql(f"CREATE MATERIALIZED VIEW etl.li_summary AS {MATVIEW}").collect()
        self.batches = make_batches(env.seed, tables["lineitem"], f"{rep}/batches", MAX_CYCLES)

    def _cycle(self, c: int, b: dict) -> list[Op]:
        from data_warehouse_solution_spark import ingest

        env = self.env
        url = f"http://127.0.0.1:{self.server.server_address[1]}/{os.path.relpath(b['dir'], env.work)}"
        jobs = [ingest.IngestJob(path=f"{url}/{name}.csv", table=name) for name in b["li"]]
        jobs += [ingest.IngestJob(path=f"{url}/{name}.csv", table=name, anonymize=True,
                                  sensitive_columns=["email"]) for name in b["ev"]]
        casts = ", ".join(f"CAST({c} AS {t}) AS {c}" for c, t in LI_COLS)
        source = " UNION ALL ".join(f"SELECT {casts} FROM stg.{name}" for name in b["li"])
        wh = env.spark.conf.get("spark.sql.warehouse.dir")
        steps = [
            ("ingest", "write", lambda: ingest.ingest_many(
                env.spark, jobs, database="stg", max_workers=INGEST_WORKERS)),
            ("merge", "write", f"MERGE INTO etl.lineitem t USING ({source}) s "
             "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber "
             "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"),
            ("copy", "write", f"COPY INTO etl.events FROM '{wh}/stg.db' FILEFORMAT = PARQUET "
             "PATTERN = 'ev_*/*.parquet'"),
            ("delete", "write", f"DELETE FROM etl.events WHERE ts < {gen.ts_literal(b['cutoff'])}"),
            ("refresh", "write", "REFRESH MATERIALIZED VIEW etl.li_summary"),
            ("optimize", "write", "OPTIMIZE etl.events"),
            ("select", "read", "SELECT * FROM etl.li_summary"),
            ("select", "read", EVENTS_READ),
            ("select", "read", f"SELECT * FROM etl.lineitem WHERE l_orderkey = {b['probe_key']}"),
            ("select", "read", "SELECT COUNT(*) AS n FROM etl.lineitem"),
        ]
        self.n_steps = len(steps)
        ops = []
        for i, (kind, cls, what) in enumerate(steps):
            if callable(what):
                run = what
            elif cls == "read":
                run = functools.partial(lambda s: [tuple(x) for x in env.sql(s).collect()], what)
            else:
                run = functools.partial(lambda s: [x.asDict() for x in env.sql(s).collect()], what)
            ops.append(Op(kind, cls, run, meta={"cycle": c, "step": i, "sql": what},
                          last_in_group=i == len(steps) - 1))
        return ops

    def ops(self) -> Iterator[Op]:
        for c, b in enumerate(self.batches, start=1):
            yield from self._cycle(c, b)

    @staticmethod
    def span_name(op: Op) -> str:
        return "etl.ingest" if op.kind == "ingest" else f"sql_gate.{op.kind}"

    def cycles(self, done: list[Op]) -> list[dict]:
        out = {}
        for o in done:
            c = out.setdefault(o.meta["cycle"], {"seconds": 0.0, "rows": 0, "steps": 0})
            c["seconds"] += o.latency
            c["steps"] += 1
        return [{"seconds": c["seconds"], "rows": self.batches[k - 1]["rows"]}
                for k, c in out.items() if c["steps"] == self.n_steps]

    def fetch_retries(self) -> int:
        """Repeated requests for one file, over the whole run."""
        return sum(n - 1 for n in self.server.requests.values())

    def check(self, done: list[Op], duck) -> None:
        """Replay the cycles in DuckDB from the batch files: each read,
        then the final line items, events and view, must match; no
        anonymized e-mail may equal its plaintext."""
        ev_types = ", ".join(f"'{c}': '{_duck_type(t)}'" for c, t in EV_COLS)
        li_types = ", ".join(f"'{c}': '{_duck_type(t)}'" for c, t in LI_COLS)
        duck.execute("CREATE SCHEMA etl")
        duck.execute(f"CREATE TABLE etl.lineitem AS SELECT * FROM read_parquet('{self.inputs['lineitem']}')")
        duck.execute(f"CREATE TABLE plain AS SELECT * FROM read_csv('{self.seed_events}', header=true, "
                     f"columns={{{ev_types}}})")
        cycles_run = sorted({o.meta["cycle"] for o in done})
        for c in cycles_run:
            b = self.batches[c - 1]
            files = [os.path.join(b["dir"], f"{n}.csv") for n in b["li"]]
            duck.execute(f"CREATE OR REPLACE TABLE batch AS SELECT * FROM read_csv({files!r}, "
                         f"header=true, columns={{{li_types}}})")
            duck.execute("DELETE FROM etl.lineitem USING batch WHERE etl.lineitem.l_orderkey = batch.l_orderkey "
                         "AND etl.lineitem.l_linenumber = batch.l_linenumber")
            duck.execute("INSERT INTO etl.lineitem SELECT * FROM batch")
            files = [os.path.join(b["dir"], f"{n}.csv") for n in b["ev"]]
            duck.execute(f"INSERT INTO plain SELECT * FROM read_csv({files!r}, header=true, "
                         f"columns={{{ev_types}}})")
            duck.execute(f"DELETE FROM plain WHERE ts < {gen.ts_literal(b['cutoff'])}")
            duck.execute("CREATE OR REPLACE VIEW etl.events AS SELECT event_id, ts, user_id, "
                         "sha256(email) AS email, event_type, value FROM plain")
            duck.execute(f"CREATE OR REPLACE VIEW etl.li_summary AS {MATVIEW}")
            for o in done:
                if o.meta["cycle"] == c and o.cls == "read" and o.ok:
                    want = duck.execute(o.meta["sql"]).fetchall()
                    if not same_rows(o.result, want):
                        raise CheckFailed(f"etl_batch cycle {c}: {o.meta['sql']!r} returned "
                                          f"{o.result[:5]}, expected {want[:5]}")
        cols = ", ".join(c for c, _ in LI_COLS)
        out = self.env.export(f"SELECT {cols} FROM etl.lineitem", "lineitem")
        self.env.same_content(duck, f"SELECT {cols} FROM etl.lineitem", out, "etl.lineitem")
        cols = ", ".join(c for c, _ in EV_COLS)
        out = self.env.export(f"SELECT {cols} FROM etl.events", "events")
        self.env.same_content(duck, f"SELECT {cols} FROM etl.events", out, "etl.events")
        leaked = duck.execute(
            f"SELECT COUNT(*) FROM read_parquet('{out}/*.parquet') g JOIN plain p "
            "ON g.event_id = p.event_id WHERE g.email = p.email").fetchone()[0]
        if leaked:
            raise CheckFailed(f"etl_batch: {leaked} anonymized e-mails equal their plaintext")
        got = [tuple(x) for x in self.env.sql("SELECT * FROM etl.li_summary").collect()]
        if not same_rows(got, duck.execute(MATVIEW).fetchall()):
            raise CheckFailed("etl_batch: materialized view differs from a recompute")
