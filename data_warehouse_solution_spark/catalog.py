"""Named-table catalog over COW snapshot-table paths.

The reference addresses every warehouse table by a two-level name —
``f'"{source}"."{table_name}"'`` (``pipeline.py:235``) — while this
engine's SQL gate addressed COW tables only by backticked absolute
path (``cow.`/abs/path```). This module completes the SQL-text
ergonomics: ``CREATE TABLE name USING cow LOCATION '/p'`` registers a
durable name -> path mapping, and every gate verb (INSERT / DELETE /
UPDATE / MERGE / ALTER / TRUNCATE / DROP / OPTIMIZE / VACUUM /
RESTORE / DESCRIBE / SELECT-FROM) resolves bare names through it.

Durability mirrors the manifest commit (``cowtable`` module notes):
one JSON entry file per name under the catalog directory, committed
write-temp-then-rename with an existence check — atomic on
HDFS-semantics filesystems, check-then-rename on a local FS. One
file per name (rather than one catalog JSON) means registration is
atomic PER NAME with no read-modify-write race between concurrent
registrations of different names; concurrent registrations of the
SAME name race to a single winner exactly like a manifest commit.

Catalog directory: ``spark.dws.cow.catalogDir`` when set, else
``<spark.sql.warehouse.dir>/_cow_catalog``. Names are one- or
two-level dotted identifiers (the reference's ``source.table``
shape), case-insensitive (stored lowercase) like unquoted SQL
identifiers.

Scale note: the catalog holds table NAMES (thousands at most), not
data — a directory listing of KB-sized JSON files, read driver-side
only. Resolving one name is a single existence check + KB read (no
listing), so hot DML paths (streaming upsert: one statement per
micro-batch) pay O(1) filesystem metadata ops per statement.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import SparkSession

from .cowtable import _fs, _jpath, _local_fs_path, _read_file, _write_file

_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)?$")

# entry files are "<name>.json" with dots kept literal — both levels
# of the reference's namespace are identifier-safe characters, so the
# file name round-trips the table name without escaping
_ENTRY_RE = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)?)\.json$")


def catalog_dir(spark: SparkSession) -> str:
    d = spark.conf.get("spark.dws.cow.catalogDir", None)
    if d:
        return d.rstrip("/")
    wh = spark.conf.get("spark.sql.warehouse.dir")
    return f"{wh.rstrip('/')}/_cow_catalog"


def normalize_name(name: str) -> str:
    """Lowercased, backtick/double-quote-stripped one- or two-level
    identifier; raises for anything path-like (names never contain
    ``/`` — a slash means the caller wanted the path form)."""
    raw = name.strip()
    parts = [p.strip().strip('`"') for p in _split_dots(raw)]
    cand = ".".join(parts)
    if not _NAME_RE.match(cand):
        raise ValueError(
            f"invalid table name {name!r} — use one- or two-level "
            "identifiers (source.table)"
        )
    return cand.lower()


def _split_dots(s: str) -> list[str]:
    """Split on dots OUTSIDE backtick/double-quote runs, so
    ``` `a.b`.c ``` keeps its quoted segment intact."""
    out, cur, q = [], [], None
    for ch in s:
        if q:
            cur.append(ch)
            if ch == q:
                q = None
        elif ch in ("`", '"'):
            cur.append(ch)
            q = ch
        elif ch == ".":
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return out


def is_name(target: str) -> bool:
    """True when ``target`` is addressable as a catalog name (vs a
    filesystem path / ``cow.`path``` reference)."""
    t = target.strip()
    if t.startswith("cow.`") or t.startswith("`") or "/" in t:
        return False
    try:
        normalize_name(t)
        return True
    except ValueError:
        return False


def _entry_path(spark: SparkSession, name: str) -> str:
    return f"{catalog_dir(spark)}/{name}.json"


def register(
    spark: SparkSession, name: str, path: str, *, replace: bool = False
) -> None:
    """Durably map ``name`` -> ``path``. Refuses an existing name
    unless ``replace`` (CREATE OR REPLACE semantics); the commit is
    a temp-file rename, the manifest pattern."""
    _register_payload(
        spark, name, {"path": path}, replace=replace, what="table"
    )


def register_view(
    spark: SparkSession, name: str, sql: str, *, replace: bool = False
) -> None:
    """Durably store a VIEW: ``name`` -> its SELECT text, re-planned
    at every read (Dremio's virtual dataset — the reference warehouse's
    primary modeling surface — and ANSI CREATE VIEW). Views share the
    table namespace (one entry file per name), so a view can never
    collide with a table silently; ``replace`` retargets an existing
    VIEW only — replacing a table with a view still refuses."""
    cur = _read_entry(spark, normalize_name(name))
    if cur is not None and cur.get("kind") != "view":
        kind = cur.get("kind", "table").upper()
        raise ValueError(
            f"name {normalize_name(name)!r} is already a registered "
            f"{kind} — names share one namespace; DROP the "
            f"{kind.lower()} first"
        )
    _register_payload(
        spark, name, {"kind": "view", "sql": sql}, replace=replace, what="view"
    )


def register_matview(
    spark: SparkSession, name: str, payload: dict, *, replace: bool = False
) -> None:
    """Durably store a MATERIALIZED VIEW entry (Dremio's reflection —
    the reference warehouse's acceleration primitive: a materialized
    aggregate over a virtual dataset, ``README.md:3-4``). ``payload``
    carries the definition text, the backing COW table path, the
    maintenance mode, and (incremental mode) the parsed aggregate
    spec + the base table's last-refreshed snapshot id. Shares the
    one-entry-per-name namespace with tables and views; kind flips
    refuse in ``_register_payload``."""
    _register_payload(
        spark,
        name,
        {"kind": "matview", **payload},
        replace=replace,
        what="matview",
    )


def resolve_matview(spark: SparkSession, name: str) -> dict | None:
    """The stored MATERIALIZED VIEW entry for ``name``, or None."""
    try:
        name = normalize_name(name)
    except ValueError:
        return None
    e = _read_entry(spark, name)
    if e is None or e.get("kind") != "matview":
        return None
    return e


def matviews(spark: SparkSession) -> dict[str, dict]:
    """All registered MATERIALIZED VIEW entries by name."""
    return {
        e["name"]: e for e in _entries(spark) if e.get("kind") == "matview"
    }


def _read_entry(spark: SparkSession, name: str) -> dict | None:
    fs, jp = _fs(spark, _entry_path(spark, name))
    if not fs.exists(jp):
        return None
    return json.loads(_read_file(spark, jp.toString()).decode())


def _register_payload(
    spark: SparkSession, name: str, body: dict, *, replace: bool, what: str
) -> None:
    name = normalize_name(name)
    final = _jpath(spark, _entry_path(spark, name))
    fs, _ = _fs(spark, catalog_dir(spark))
    fs.mkdirs(_jpath(spark, catalog_dir(spark)))
    old_payload = None
    if fs.exists(final):
        cur = _read_entry(spark, name)
        kind = (cur or {}).get("kind", "table")
        if not replace:
            raise ValueError(
                f"{what} name {name!r} is already registered as a "
                f"{kind} — DROP it or use a different name"
            )
        if kind != what:
            # replace never changes an entry's KIND: OR REPLACE on a
            # table must not silently destroy a stored view (nor the
            # converse) — views and tables share one namespace
            raise ValueError(
                f"name {name!r} is already registered as a {kind} — "
                f"cannot replace it with a {what}; DROP the {kind} first"
            )
        # replace is delete-then-rename (Hadoop FileSystem.rename
        # refuses an existing destination); keep the OLD entry's
        # bytes so a rename failure in the window restores the
        # prior mapping instead of leaving the name unregistered
        # while the table's files still exist (r10 ADVICE)
        old_payload = _read_file(spark, final.toString())
        fs.delete(final, False)
    payload = json.dumps({"name": name, **body}).encode()
    tmp = _jpath(spark, f"{catalog_dir(spark)}/.tmp-{uuid.uuid4().hex}.json")
    _write_file(spark, tmp.toString(), payload)
    if fs.exists(final) or not fs.rename(tmp, final):
        fs.delete(tmp, False)
        if old_payload is not None and not fs.exists(final):
            # best-effort restore of the prior mapping via the same
            # temp-then-rename commit; if a concurrent writer claimed
            # the name meanwhile, their entry wins (final exists)
            rtmp = _jpath(
                spark, f"{catalog_dir(spark)}/.tmp-{uuid.uuid4().hex}.json"
            )
            _write_file(spark, rtmp.toString(), old_payload)
            if not fs.rename(rtmp, final):
                fs.delete(rtmp, False)
        raise ValueError(
            f"{what} name {name!r} was registered concurrently — retry "
            "with a different name or DROP it first"
        )


def unregister(spark: SparkSession, name: str, *, if_exists: bool = True) -> bool:
    """Remove the mapping (the table's FILES are untouched — dropping
    those is ``cowtable.drop`` on the resolved path)."""
    name = normalize_name(name)
    fs, jp = _fs(spark, _entry_path(spark, name))
    if not fs.exists(jp):
        if if_exists:
            return False
        raise ValueError(f"unknown table name {name!r}")
    fs.delete(jp, False)
    return True


def resolve(spark: SparkSession, name: str) -> str | None:
    """Registered TABLE path for ``name`` or None (a VIEW or
    MATERIALIZED VIEW entry also returns None — use ``resolve_view``
    / ``resolve_matview``). Never raises for unknown names — callers
    fall through to Spark's own resolution, so native catalog tables
    keep working untouched."""
    try:
        name = normalize_name(name)
    except ValueError:
        return None
    e = _read_entry(spark, name)
    if e is None or e.get("kind", "table") != "table":
        return None
    return e["path"]


def resolve_view(spark: SparkSession, name: str) -> str | None:
    """Stored SELECT text for a registered VIEW, or None."""
    try:
        name = normalize_name(name)
    except ValueError:
        return None
    e = _read_entry(spark, name)
    if e is None or e.get("kind") != "view":
        return None
    return e["sql"]


def entry_kind(spark: SparkSession, name: str) -> str | None:
    """'table' | 'view' | None for ``name``."""
    try:
        name = normalize_name(name)
    except ValueError:
        return None
    e = _read_entry(spark, name)
    if e is None:
        return None
    return e.get("kind", "table")


def _entries(spark: SparkSession) -> list[dict]:
    fs, d = _fs(spark, catalog_dir(spark))
    if not fs.exists(d):
        return []
    out = []
    for st in fs.listStatus(d):
        if _ENTRY_RE.match(st.getPath().getName()):
            out.append(
                json.loads(_read_file(spark, st.getPath().toString()).decode())
            )
    return out


def tables(spark: SparkSession) -> dict[str, str]:
    """All registered TABLE name -> path mappings (driver-side
    directory listing of KB-sized entries; bounded by table COUNT,
    not data)."""
    return dict(
        sorted(
            (e["name"], e["path"])
            for e in _entries(spark)
            if e.get("kind", "table") == "table"
        )
    )


def views(spark: SparkSession) -> dict[str, str]:
    """All registered VIEW name -> SELECT-text mappings."""
    return dict(
        sorted(
            (e["name"], e["sql"])
            for e in _entries(spark)
            if e.get("kind") == "view"
        )
    )


def resolve_or_raise(spark: SparkSession, name: str) -> str:
    return lookup(catalog_dir(spark), name)


def lookup(cat_dir: str, name: str) -> str:
    """Registered TABLE path for ``name`` in the catalog at ``cat_dir``,
    read with plain file I/O — no SparkSession, so the Python data
    sources resolve ``option("table", name)`` with it in their worker
    processes. Unknown names (and views) raise with the registered-table
    list. The catalog must be on the local filesystem."""
    root = _local_fs_path(cat_dir)
    if root is None:
        raise ValueError(f"catalog {cat_dir!r} is not on the local filesystem")

    def entry(fname):
        with open(os.path.join(root, fname)) as fh:
            return json.load(fh)

    try:
        fname = f"{normalize_name(name)}.json"
    except ValueError:
        fname = None
    if fname and os.path.isfile(os.path.join(root, fname)):
        e = entry(fname)
        if e.get("kind", "table") == "table":
            return e["path"]
    known = sorted(
        m.group(1)
        for f in (os.listdir(root) if os.path.isdir(root) else [])
        if (m := _ENTRY_RE.match(f)) and entry(f).get("kind", "table") == "table"
    )
    raise ValueError(
        f"unknown table name {name.strip()!r} — registered tables: "
        f"{known if known else '(none)'}"
    )
