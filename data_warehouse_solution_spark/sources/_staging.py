"""How the ``cow`` batch writer and the ``cowsink`` stream writer stage
rows and commit them.

Both writers share every step and differ only in labels, the staged
file-name prefix and what happens around the commit (the sink's replay
guard):

- ``plan_write`` runs when Spark asks the source for a writer. It
  validates the table against the frame and probes every CHECK and
  generated-column expression, so a bad write fails before any task
  runs. Its spec travels to the tasks.
- ``stage_task`` runs per task on the executors. It recomputes
  generated columns, validates CHECK constraints over the task's rows
  (DuckDB-evaluated ANSI SQL; NULL passes, the SQL three-valued rule)
  and only then writes one Hive-dir parquet file per partition value
  and bucket, returning manifest entries identical to what
  ``cowtable._stage_files`` records.
- ``commit`` publishes all staged entries as ONE snapshot. The
  manifest is built with the engine's own helpers (``cowtable._child``
  and ``cowtable._attach_files``), so it carries, shards and stamps
  exactly like an engine commit; only the I/O differs. It is linked
  into place with ``os.link``, which fails if the snapshot exists —
  the writers' publish primitive (their commit hook runs in a Python
  worker, without a SparkSession), as ``cowtable._publish`` is the
  engine's. A lost race reloads the head and retries, and a table
  feature that changed since planning fails the write instead of
  publishing unvetted bytes.

Dialect caveat: the probes guarantee that DuckDB parses each expression
and types it like the table, not value parity for every expression.
Arithmetic, CASE, concat and date-part expressions agree between the
engines; an expression with engine-specific semantics belongs on the
engine path (``cowtable.append``).
"""

from __future__ import annotations

import datetime
import json
import os
import re
import uuid

from ..cowtable import (
    MANIFEST_DIR,
    _STATS_TYPES,
    _attach_files,
    _canon_ts,
    _child,
    _shard_name,
)
from ..hashing import bloom_build, bucket_of_key
from ._local import data_dir, load_manifest, manifest_path, snapshots

_PA_TYPES = {
    "tinyint": "int8",
    "smallint": "int16",
    "int": "int32",
    "bigint": "int64",
    "float": "float32",
    "double": "float64",
    "string": "string",
    "boolean": "bool_",
    "date": "date32",
}

# Spark's JSON schema spells the integral types 'long'/'integer'/
# 'short'/'byte' where simpleString (and everything else the engine
# writes into manifests) says 'bigint'/'int'/'smallint'/'tinyint'.
_SPARK_JSON_CANON = {
    "long": "bigint",
    "integer": "int",
    "short": "smallint",
    "byte": "tinyint",
}

_INTS = {"tinyint", "smallint", "int", "bigint"}

# the key types the writers can group by (partition columns) and hash
# bit-identically to F.hash (bucket columns)
_GROUPABLE = ("tinyint", "smallint", "int", "bigint", "string", "date")

_COMMIT_ATTEMPTS = 8

# manifest key -> how a mid-write change of it is reported
_FEATURES = {
    "partition_by": "partitioning",
    "bloom_columns": "bloom indexing",
    "check_constraints": "CHECK constraints",
    "generated_columns": "generated columns",
    "bucket_by": "bucketing",
}


def _pa_type_of(t):
    """Spark type name -> pyarrow type (None = unsupported). Covers the
    scalar warehouse types incl. decimal(p,s), which Spark's parquet
    reader round-trips from pyarrow's decimal128 exactly."""
    import pyarrow as pa

    t = _SPARK_JSON_CANON.get(t, t)
    if t == "timestamp":
        return pa.timestamp("us")
    if t in _PA_TYPES:
        return getattr(pa, _PA_TYPES[t])()
    dm = re.fullmatch(r"decimal\((\d+),\s*(\d+)\)", t or "")
    if dm and int(dm.group(1)) <= 38:
        return pa.decimal128(int(dm.group(1)), int(dm.group(2)))
    return None


def _pa_simple(pa_type):
    """pyarrow type -> Spark simpleString (None = unsupported)."""
    import pyarrow as pa

    for test, name in (
        (pa.types.is_int8, "tinyint"),
        (pa.types.is_int16, "smallint"),
        (pa.types.is_int32, "int"),
        (pa.types.is_int64, "bigint"),
        (pa.types.is_float32, "float"),
        (pa.types.is_float64, "double"),
        (pa.types.is_string, "string"),
        (pa.types.is_large_string, "string"),
        (pa.types.is_boolean, "boolean"),
        (pa.types.is_date, "date"),
        (pa.types.is_timestamp, "timestamp"),
    ):
        if test(pa_type):
            return name
    if pa.types.is_decimal(pa_type):
        return f"decimal({pa_type.precision},{pa_type.scale})"
    return None


def arrow_schema(cols, col_types, pmap):
    """pyarrow schema of ``cols`` under their physical names."""
    import pyarrow as pa

    fields = []
    for c in cols:
        pt = _pa_type_of(col_types[c])
        if pt is None:
            raise ValueError(f"unsupported type {col_types[c]} for {c}")
        fields.append(pa.field(pmap.get(c, c), pt))
    return pa.schema(fields)


def _duck_over(table):
    import duckdb

    con = duckdb.connect()
    con.register("__w", table)
    return con


def _probe_relation(fields, skip=()):
    """An empty typed DuckDB relation ``__w`` over the table's columns
    (Spark JSON schema fields), leaving out ``skip``."""
    import pyarrow as pa

    probe = []
    for f in fields:
        pt = _pa_type_of(f["type"]) if isinstance(f["type"], str) else None
        if pt is not None and f["name"] not in skip:
            probe.append(pa.field(f["name"], pt))
    return _duck_over(pa.table({f.name: [] for f in probe}, schema=pa.schema(probe)))


def _probe_checks(fields, checks):
    """Every CHECK expression must parse in DuckDB against the table's
    columns."""
    if not checks:
        return
    con = _probe_relation(fields)
    for cname, expr in sorted(checks.items()):
        try:
            con.execute(f"SELECT count(*) FROM __w WHERE NOT ({expr})")
        except Exception as e:
            raise ValueError(
                f"CHECK constraint {cname}: {expr!r} is not portable ANSI SQL "
                f"(DuckDB-evaluated in this path: {e})"
            ) from None


def _probe_generated(fields, generated):
    """Every generated expression must parse in DuckDB against the
    NON-generated columns and produce EXACTLY the declared type — so
    `length(s)` (int in Spark, bigint in DuckDB) refuses upfront
    instead of staging drifted bytes."""
    if not generated:
        return
    declared = {f["name"]: f["type"] for f in fields}
    con = _probe_relation(fields, skip=generated)
    for col, expr in sorted(generated.items()):
        try:
            got = con.execute(f"SELECT ({expr}) AS __g FROM __w").arrow().schema[0].type
        except Exception as e:
            raise ValueError(
                f"generated column {col}: {expr!r} is not portable ANSI SQL "
                f"(DuckDB-evaluated in this path: {e})"
            ) from None
        want = _SPARK_JSON_CANON.get(declared.get(col), declared.get(col))
        have = _pa_simple(got)
        if have != want:
            raise ValueError(
                f"generated column {col}: {expr!r} evaluates to {have or got} "
                f"here but the table declares {want} — the engines' type "
                "rules differ for this expression"
            )


def plan_write(table_path, frame_schema, label, engine_path) -> dict:
    """Validate a write of ``frame_schema`` into the table at its head
    snapshot and return the spec its tasks and commit run on. A
    violation raises ValueError naming ``engine_path`` as the way to do
    the write instead."""
    snaps = snapshots(table_path)
    if not snaps:
        raise ValueError(
            f"{label}: no COW table at {table_path} — create it with "
            "cowtable.create first (writers add content, they do not "
            "define schema)"
        )
    head = load_manifest(table_path, snaps[-1], expand=False)
    spec = {k: head.get(k) or None for k in _FEATURES}
    fields = json.loads(head["schema"])["fields"]
    col_names = [f["name"] for f in fields]
    col_types = {
        f["name"]: _SPARK_JSON_CANON.get(t, t) if isinstance(t := f["type"], str) else t
        for f in fields
    }
    gen = spec["generated_columns"] or {}
    try:
        if head.get("identity_columns"):
            raise ValueError(
                f"table declares IDENTITY column(s) {sorted(head['identity_columns'])},"
                " whose values the engine allocates"
            )
        nested = [c for c, t in col_types.items() if not isinstance(t, str)]
        if nested:
            raise ValueError(f"unsupported nested columns {nested}")
        bucket_cols = (spec["bucket_by"] or {}).get("columns", [])
        for what, cols in (("partition", spec["partition_by"] or []), ("bucket", bucket_cols)):
            bad = [c for c in cols if col_types.get(c) not in _GROUPABLE]
            if bad:
                raise ValueError(f"unsupported {what} column type(s) for {bad}")
        _probe_checks(fields, spec["check_constraints"])
        _probe_generated(fields, gen)
        arrow_schema(col_names, col_types, {})
    except ValueError as e:
        raise ValueError(f"{label}: {e} — use {engine_path}") from None
    frame_cols = {f.name for f in frame_schema.fields}
    if set(col_names) - frame_cols - set(gen) or frame_cols - set(col_names):
        raise ValueError(
            f"{label}: frame columns {sorted(frame_cols)} != table columns "
            f"{sorted(col_names)} (cast/rename first; only generated columns "
            "may be omitted)"
        )
    return {
        **spec,
        "table_path": table_path,
        "col_names": col_names,
        "col_types": col_types,
        "pmap": head.get("physical_names") or {},
    }


def _apply_generated_rows(rows, col_names, col_types, generated):
    """Recompute every generated column over the task's rows (DuckDB
    over an Arrow batch of the non-generated columns, order pinned by
    an injected rowid), OVERWRITING whatever the frame carried — the
    engine's ``_apply_generated`` invariant. Values are cast to the
    declared type; a cast overflow fails the task before any byte
    lands."""
    import pyarrow as pa

    base_cols = [c for c in col_names if c not in generated]
    t = pa.table(
        {"__rid": list(range(len(rows))), **{c: [r[c] for r in rows] for c in base_cols}},
        schema=pa.schema(
            [pa.field("__rid", pa.int64())] + list(arrow_schema(base_cols, col_types, {}))
        ),
    )
    sel = ", ".join(f"({expr}) AS {col}" for col, expr in sorted(generated.items()))
    out = _duck_over(t).execute(f"SELECT {sel} FROM __w ORDER BY __rid").arrow()
    new_rows = [dict(r) for r in rows]
    for col in sorted(generated):
        vals = out.column(col).cast(arrow_schema([col], col_types, {}).field(0).type).to_pylist()
        for r, v in zip(new_rows, vals):
            r[col] = v
    return new_rows


def _validate_rows(rows, col_names, col_types, checks, label):
    import pyarrow as pa

    t = pa.table(
        {c: [r[c] for r in rows] for c in col_names},
        schema=arrow_schema(col_names, col_types, {}),
    )
    con = _duck_over(t)
    bad = {}
    for name, expr in sorted(checks.items()):
        n = con.execute(f"SELECT count(*) FROM __w WHERE NOT ({expr})").fetchone()[0]
        if n:
            bad[name] = int(n)
    if bad:
        raise ValueError(f"{label}: CHECK constraint(s) violated (name: rows): {bad}")


def stage_task(rows, spec, prefix, label) -> list[dict]:
    """Stage one task's rows (dicts over the table's logical columns)
    and return their manifest entries."""
    if not rows:
        return []
    col_names, col_types = spec["col_names"], spec["col_types"]
    if spec["generated_columns"]:
        # a generated column IS its expression: recompute first, so
        # CHECKs referencing it validate the landed values
        rows = _apply_generated_rows(rows, col_names, col_types, spec["generated_columns"])
    if spec["check_constraints"]:
        # validate, THEN stage: a violating task leaves no bytes
        _validate_rows(rows, col_names, col_types, spec["check_constraints"], label)
    return _stage_groups(rows, spec, prefix)


def _stage_groups(rows, spec, prefix):
    """Group rows by partition values (and, on bucketed tables, bucket
    id), write one Hive-dir parquet per group (bucket id as the
    ``_000NN`` file-name suffix, rows sorted by the within-bucket sort
    spec) and return the groups' manifest entries."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from urllib.parse import quote

    col_names, col_types, pmap = spec["col_names"], spec["col_types"], spec["pmap"]
    partition_by = spec["partition_by"] or []
    bloom_columns = spec["bloom_columns"] or []
    bucket = spec["bucket_by"]
    bcols = list(bucket["columns"]) if bucket else []
    btypes = [col_types[c] for c in bcols]
    bsort = list(bucket.get("sort_by") or []) if bucket else []
    root = data_dir(spec["table_path"])
    groups: dict = {}
    for r in rows:
        key = tuple(r[c] for c in partition_by)
        if bucket:
            b = bucket_of_key([r[c] for c in bcols], btypes, int(bucket["buckets"]))
            if b is None:
                raise ValueError(
                    "cow staging: bucket key value not hashable "
                    f"({[r[c] for c in bcols]!r}) — type drift?"
                )
            key = key + (b,)
        groups.setdefault(key, []).append(r)
    data_cols = [c for c in col_names if c not in partition_by]
    schema = arrow_schema(data_cols, col_types, pmap)
    entries = []
    for key, grp in sorted(groups.items(), key=lambda kv: tuple(map(str, kv[0]))):
        pvals, b_id = (key[:-1], key[-1]) if bucket else (key, None)
        if bsort:
            # within-bucket sort (nulls first ascending, Spark's default)
            grp = sorted(grp, key=lambda r: tuple((r[c] is not None, r[c]) for c in bsort))
        cols = {pmap.get(c, c): [r[c] for r in grp] for c in data_cols}
        raws = [
            None if v is None else (v.isoformat() if hasattr(v, "isoformat") else str(v))
            for v in pvals
        ]
        segs = [
            f"{c}={quote('__HIVE_DEFAULT_PARTITION__' if raw is None else raw, safe='')}"
            for c, raw in zip(partition_by, raws)
        ]
        suffix = f"_{b_id:05d}" if b_id is not None else ""
        base = f"{prefix}-{uuid.uuid4().hex}{suffix}.parquet"
        os.makedirs(os.path.join(root, *segs), exist_ok=True)
        pq.write_table(pa.table(cols, schema=schema), os.path.join(root, *segs, base))
        stats, nulls, blooms = {}, {}, {}
        for c in data_cols:
            p = pmap.get(c, c)  # stats keyed physical, like engine staging
            vals = [v for v in cols[p] if v is not None]
            if len(cols[p]) > len(vals):
                nulls[p] = len(cols[p]) - len(vals)
            t = col_types[c]
            if vals and t in _STATS_TYPES:
                lo, hi = min(vals), max(vals)
                if t in ("timestamp", "timestamp_ntz"):
                    lo, hi = _canon_ts(lo), _canon_ts(hi)
                elif hasattr(lo, "isoformat"):  # date -> ISO
                    lo, hi = lo.isoformat(), hi.isoformat()
                stats[p] = [lo, hi]
            if vals and c in bloom_columns and t in _INTS | {"string"}:
                bl = bloom_build([v if isinstance(v, str) else str(v) for v in vals])
                if bl is not None:
                    blooms[p] = bl
        entry = {"name": "/".join(segs + [base]), "rows": len(grp), "stats": stats, "nulls": nulls}
        if b_id is not None:
            entry["bucket"] = b_id
        if partition_by:
            part = {}
            for c, v, raw in zip(partition_by, pvals, raws):
                if raw is None:
                    part[c] = "__HIVE_DEFAULT_PARTITION__"
                    nulls[c] = len(grp)
                    continue
                part[c] = raw
                # min == max == the value, typed like the engine
                t = col_types[c]
                if t in ("timestamp", "timestamp_ntz"):
                    sv: object = _canon_ts(v)
                elif t in _INTS:
                    sv = int(raw)
                else:
                    sv = raw
                stats[c] = [sv, sv]
            entry["partition"] = part
        if blooms:
            entry["blooms"] = blooms
        entries.append(entry)
    return entries


def drop_staged(table_path, messages):
    """Delete the files a failed or refused write staged."""
    root = data_dir(table_path)
    for msg in messages:
        for e in getattr(msg, "entries", None) or []:
            try:
                os.remove(os.path.join(root, *e["name"].split("/")))
            except OSError:
                pass


def _link_manifest(table_path, manifest) -> bool:
    """Publish ``manifest`` with its commit timestamp; False when a
    rival already committed its snapshot id."""
    manifest["committed_at"] = datetime.datetime.now(datetime.timezone.utc).isoformat(
        timespec="microseconds"
    )
    tmp = os.path.join(table_path, MANIFEST_DIR, f".tmp-{uuid.uuid4().hex}.json")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    try:
        os.link(tmp, manifest_path(table_path, manifest["snapshot_id"]))
        return True
    except FileExistsError:
        return False
    finally:
        os.remove(tmp)


def commit(spec, messages, operation, label, *, overwrite=False) -> int:
    """Publish the tasks' staged entries as one snapshot (replacing the
    table's files when ``overwrite``) and return its id. The manifest
    is built like an engine commit's; only the shard and manifest I/O
    here is local."""
    table_path = spec["table_path"]
    mdir = os.path.join(table_path, MANIFEST_DIR)
    entries = [e for m in messages if m is not None for e in (m.entries or [])]

    def read(name):
        with open(os.path.join(mdir, name)) as fh:
            return json.load(fh)

    def write(blob):
        # identical content means an identical name, so the write is
        # skipped; tmp + rename so a concurrent identical writer never
        # interleaves bytes
        name = _shard_name(blob)
        dst = os.path.join(mdir, name)
        if not os.path.exists(dst):
            tmp = os.path.join(mdir, f".tmp-shard-{uuid.uuid4().hex}.json")
            with open(tmp, "wb") as fh:
                fh.write(blob)
            os.replace(tmp, dst)
        return name

    for _attempt in range(_COMMIT_ATTEMPTS):
        head = load_manifest(table_path, snapshots(table_path)[-1], expand=False)
        changed = [what for k, what in _FEATURES.items() if (head.get(k) or None) != spec[k]]
        if changed:
            # e.g. a concurrent ALTER added a CHECK constraint the staged
            # rows were never validated against
            drop_staged(table_path, messages)
            raise RuntimeError(
                f"{label}: {'/'.join(changed)} changed on {table_path} since "
                "the write was planned; re-run it"
            )
        if overwrite:
            manifest = _attach_files(
                _child(head, operation, files=entries), head, None, read, write
            )
        else:
            manifest = _attach_files(_child(head, operation), head, entries, read, write)
        if _link_manifest(table_path, manifest):
            return manifest["snapshot_id"]
    drop_staged(table_path, messages)
    raise RuntimeError(f"{label}: lost {_COMMIT_ATTEMPTS} commit races at {table_path}")
