"""``cow`` — a Spark 4 Python BATCH Data Source reading and writing
copy-on-write snapshot tables, time travel included::

    register_cow_batch(spark)
    df = (spark.read.format("cow")
          .option("tablePath", "/path/to/table")
          .option("versionAsOf", "3")          # or timestampAsOf
          .load())

Completes the format-string surface around the table format: ``cowcdc``
is the STREAMING reader (change feed), ``cowsink`` the STREAMING
writer, this is the BATCH reader and writer — so a DataFrame user never
needs the Python ``cowtable`` API (SQL users have the gate's
``cow.`path``` references). Reads match ``cowtable.read``: the MANIFEST
schema is authoritative (columns added by schema evolution read as NULL
from older files), Hive partition directory values are re-injected
typed, ``timestampAsOf`` resolves to the latest snapshot committed
at-or-before the instant, and merge-on-read entries apply their
deletion vector.

Scale shape: one InputPartition per SURVIVING data file (executors
read only their file via pyarrow — the same parallelism a parquet
scan gets); the driver touches only the manifest. The reader
implements ``pushFilters`` (Spark 4.1 Python DataSource pushdown):
pushed =/range/IN/IS-NULL conjuncts prune FILES with the engine's own
matcher (``cowtable._file_may_match`` over min/max + null-count stats
and per-file Bloom filters, then ``_bucket_candidate_filter``) before
any partition is emitted, so a point SELECT over a bloom-indexed,
clustered or bucketed table opens O(matching files), not O(table). All
filters are returned as residual — Spark re-evaluates rows over the
survivors, making an unsound prune impossible by construction.

The hooks run in Spark's Python workers and import the engine code
directly: ``register_once`` ships the package to every worker with
``addPyFile``. Remaining limits, documented not hidden: column pruning
does not reach the pyarrow read (Spark's Python DataSource API has no
prune-columns hook yet — every projection reads full files; use
``cowtable.read`` — a real parquet scan — where that matters);
local-filesystem paths only, like ``cowcdc``/``cowsink``.
"""

from __future__ import annotations

import datetime
import json

from pyspark.sql.datasource import (
    CaseInsensitiveDict,
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    IsNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from .. import cowtable
from . import _local, _staging

_PUSHED_OPS = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


def _resolve_snapshot(table_path, options):
    options = CaseInsensitiveDict(options)
    snaps = _local.snapshots(table_path)
    if not snaps:
        raise ValueError(f"no COW table at {table_path}")
    version = options.get("versionAsOf")
    ts = options.get("timestampAsOf")
    if version is not None and ts is not None:
        raise ValueError("pass versionAsOf OR timestampAsOf, not both")
    if version is not None:
        n = _local.snapshot_ref(table_path, snaps, version)
        if n not in snaps:
            raise ValueError(
                f"snapshot {n} is not available at {table_path} "
                "(expired by vacuum, or never committed)"
            )
        return n
    if ts is not None:
        want = _local.instant(ts)
        older = [n for n in snaps if _local.committed_at(table_path, n) <= want]
        if not older:
            raise ValueError(
                f"no snapshot at {table_path} is as old as {ts} "
                "(timestamp precedes the first commit)"
            )
        return older[-1]
    return snaps[-1]


def _filter_literal(val):
    """Spark Filter value -> the manifest-stats-comparable form; None
    means the type has no sound comparison against recorded stats
    (booleans, decimals, binaries...) and the conjunct must not
    prune."""
    if isinstance(val, bool):
        return None
    if isinstance(val, (int, float, str)):
        return val
    if isinstance(val, datetime.datetime):
        return cowtable._canon_ts_literal(val)  # TIMESTAMP stats: canonical strings
    if isinstance(val, datetime.date):
        return val.isoformat()  # DATE stats are ISO strings
    return None


class FilePartition(InputPartition):
    def __init__(self, table_path, entry, col_names, col_types, pmap):
        self.table_path = table_path
        self.name = entry["name"]
        self.dv_name = (entry.get("dv") or {}).get("name")  # deletion vector
        self.col_names = col_names
        self.col_types = col_types
        self.pmap = pmap  # logical -> physical (renames)


class CowBatchReader(DataSourceReader):
    def __init__(self, schema, options):
        self.table_path = _local.table_path(options, "cow batch source")
        self.snapshot = _resolve_snapshot(self.table_path, options)
        self.col_names = [f.name for f in schema.fields]
        self.col_types = {f.name: f.dataType.simpleString() for f in schema.fields}
        self.conjuncts = []  # (logical col, op, literal) accepted for pruning

    def pushFilters(self, filters):
        """Record =, </<=/>/>=, IN and IS [NOT] NULL on top-level columns
        for file pruning in ``partitions()``. EVERY filter is returned
        as residual (partial pushdown): pruning only skips whole files
        whose stats PROVE no row can match, and literal types without a
        stats representation simply decline to prune."""
        for f in filters:
            attr = getattr(f, "attribute", None)
            if attr is not None and len(attr) == 1:
                col = attr[0]
                if isinstance(f, (IsNull, IsNotNull)):
                    self.conjuncts.append(
                        (col, "isnull" if isinstance(f, IsNull) else "notnull", None)
                    )
                elif isinstance(f, In):
                    vals = [_filter_literal(v) for v in f.value]
                    if vals and all(v is not None for v in vals):
                        self.conjuncts.append((col, "in", vals))
                elif type(f) in _PUSHED_OPS:
                    v = _filter_literal(f.value)
                    if v is not None:
                        self.conjuncts.append((col, _PUSHED_OPS[type(f)], v))
            yield f  # always residual: Spark re-checks rows

    def partitions(self):
        m = _local.load_manifest(self.table_path, self.snapshot)
        pmap = m.get("physical_names") or {}
        files = m["files"]
        if self.conjuncts:
            # entry stats are keyed by PHYSICAL names (rename never
            # rewrites stats); probe under those
            conjs = [(pmap.get(c, c), op, v) for c, op, v in self.conjuncts]
            types = {pmap.get(k, k): v for k, v in self.col_types.items()}
            files = [f for f in files if cowtable._file_may_match(f, conjs, types)]
            files = cowtable._bucket_candidate_filter(m, files, conjs, types)
        return [
            FilePartition(self.table_path, f, self.col_names, self.col_types, pmap)
            for f in files
        ]

    def read(self, partition):
        pdf = _local.read_frame(
            partition.table_path,
            partition.name,
            partition.dv_name,
            partition.col_names,
            partition.col_types,
            partition.pmap,
        )
        yield from _local.py_rows(pdf)


class CowStagedFile(WriterCommitMessage):
    def __init__(self, entries):
        self.entries = entries  # manifest entries (0..n per task)


class CowBatchWriter(DataSourceWriter):
    """Executor-staged batch append/overwrite: ``write`` stages one
    parquet per (Hive-partition value, bucket) under ``data/`` and
    returns the manifest entries; ``commit`` publishes ONE atomic
    snapshot, retrying lost races (append conflicts with nothing; a
    raced overwrite keeps last-overwrite-wins semantics). Staging and
    commit are shared with ``cowsink`` (``sources/_staging.py``)."""

    def __init__(self, spec, overwrite):
        self.spec = spec
        self.overwrite = overwrite

    def write(self, iterator):
        rows = [r.asDict() if hasattr(r, "asDict") else dict(r) for r in iterator]
        # the batch contract requires a message (unlike the streaming
        # sink); an entry-less one means "no file"
        return CowStagedFile(_staging.stage_task(rows, self.spec, "batch", "cow writer"))

    def commit(self, messages):
        _staging.commit(
            self.spec,
            messages,
            "overwrite" if self.overwrite else "batch_append",
            "cow writer",
            overwrite=self.overwrite,
        )

    def abort(self, messages):
        _staging.drop_staged(self.spec["table_path"], messages)


class CowBatchDataSource(DataSource):
    """``spark.read.format("cow")`` / ``df.write.format("cow")``
    after ``register_cow_batch``."""

    @classmethod
    def name(cls):
        return "cow"

    def schema(self):
        from pyspark.sql.types import StructType

        table_path = _local.table_path(self.options, "cow batch source")
        m = _local.load_manifest(
            table_path, _resolve_snapshot(table_path, self.options), expand=False
        )
        return StructType.fromJson(json.loads(m["schema"]))

    def reader(self, schema):
        return CowBatchReader(schema, self.options)

    def writer(self, schema, overwrite):
        table_path = _local.table_path(self.options, "cow writer")
        spec = _staging.plan_write(table_path, schema, "cow writer", "cowtable.append")
        for f in schema.fields:
            want = spec["col_types"][f.name]
            got = f.dataType.simpleString()
            if got != want:
                raise ValueError(
                    f"cow writer: column {f.name} is {got}, table wants "
                    f"{want} (cast first — the batch writer never casts)"
                )
        return CowBatchWriter(spec, bool(overwrite))


def register_cow_batch(spark) -> None:
    """Register the batch COW source on a session.

    Also enables ``spark.sql.python.filterPushdown.enabled`` (a runtime
    SQL conf, default false in 4.1) on every call: with it off, Spark
    REFUSES any reader that implements ``pushFilters`` rather than
    silently skipping pushdown, so the flag is part of using this
    source. Only the registration itself is memoized."""
    from . import register_once

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register_once(spark, "cow", lambda: spark.dataSource.register(CowBatchDataSource))
