"""Local-filesystem access to COW tables for the Python data sources.

The ``cow``, ``cowcdc`` and ``cowsink`` hooks run in Spark's Python
worker processes. They import this package (``register_once`` ships it
to the workers) but have no SparkSession, so they read manifests and
data files with plain file I/O instead of the Hadoop FileSystem handles
``cowtable`` uses. Local paths only: no scheme, or ``file:``.
"""

from __future__ import annotations

import datetime
import json
import os

from pyspark.sql.datasource import CaseInsensitiveDict

from .. import catalog
from ..cowtable import DATA_DIR, DV_DIR, MANIFEST_DIR, _SNAPSHOT_RE, _local_fs_path


def local(path: str) -> str:
    p = _local_fs_path(path)
    if p is None:
        raise ValueError(f"COW data sources read local-filesystem tables only, not {path!r}")
    return p


def table_path(options, source: str) -> str:
    """The table a source's options address: a catalog name via
    ``option("table", name)``, or ``tablePath`` / ``path``. Names resolve
    in ``option("catalogDir")``, else in ``<cwd>/spark-warehouse/
    _cow_catalog`` — the engine default under Spark's default warehouse
    dir (workers inherit the driver's cwd). Set ``catalogDir`` when the
    session overrides ``spark.dws.cow.catalogDir``."""
    options = CaseInsensitiveDict(options)
    name = options.get("table")
    if name:
        cat = options.get("catalogDir") or os.path.join(
            os.getcwd(), "spark-warehouse", "_cow_catalog"
        )
        return local(catalog.lookup(cat, name))
    p = options.get("tablePath") or options.get("path")
    if not p:
        raise ValueError(
            f"{source} requires a 'tablePath' option "
            "(or a registered name via option('table', ...))"
        )
    return local(p)


def snapshots(table_path: str) -> list[int]:
    try:
        names = os.listdir(os.path.join(table_path, MANIFEST_DIR))
    except FileNotFoundError:
        return []
    return sorted(int(m.group(1)) for n in names if (m := _SNAPSHOT_RE.match(n)))


def manifest_path(table_path: str, n: int) -> str:
    return os.path.join(table_path, MANIFEST_DIR, f"manifest-{n:08d}.json")


def load_manifest(table_path: str, n: int, *, expand: bool = True) -> dict:
    """Snapshot ``n``'s manifest; with ``expand`` a sharded file list is
    read into ``files``."""
    with open(manifest_path(table_path, n)) as fh:
        m = json.load(fh)
    if expand and "file_shards" in m:
        files = []
        for name in m["file_shards"]:
            with open(os.path.join(table_path, MANIFEST_DIR, name)) as fh:
                files += json.load(fh)
        m["files"] = files
    return m


def committed_at(table_path: str, n: int) -> datetime.datetime:
    """Commit instant of snapshot ``n``: its ``committed_at`` stamp, or
    the manifest file's mtime for legacy manifests."""
    path = manifest_path(table_path, n)
    with open(path) as fh:
        stamp = json.load(fh).get("committed_at")
    if stamp is not None:
        return datetime.datetime.fromisoformat(stamp)
    return datetime.datetime.fromtimestamp(os.path.getmtime(path), tz=datetime.timezone.utc)


def instant(ts: str) -> datetime.datetime:
    """An ISO timestamp option; naive means UTC."""
    want = datetime.datetime.fromisoformat(ts)
    return want if want.tzinfo else want.replace(tzinfo=datetime.timezone.utc)


def snapshot_ref(table_path: str, snaps: list[int], ref) -> int:
    """A snapshot id, or a tag name resolved through the head
    manifest's tag map."""
    if str(ref).isdigit():
        return int(ref)
    tags = load_manifest(table_path, snaps[-1], expand=False).get("tags") or {}
    if str(ref) not in tags:
        raise ValueError(
            f"unknown tag {ref!r} at {table_path}; "
            f"known tags: {sorted(tags) or '(none)'}"
        )
    return int(tags[str(ref)])


def data_dir(table_path: str) -> str:
    return os.path.join(table_path, DATA_DIR)


def _part_values(name: str, col_names, col_types: dict) -> dict:
    """Hive ``col=value/`` segments of a file's relative path, typed —
    the writers strip partition columns from the file bytes."""
    from urllib.parse import unquote

    out: dict = {}
    for seg in name.split("/")[:-1]:
        c, sep, v = seg.partition("=")
        if not sep or c not in col_names:
            continue
        v = unquote(v)
        t = col_types.get(c, "")
        if v == "__HIVE_DEFAULT_PARTITION__":
            out[c] = None
        elif t in ("int", "bigint", "smallint", "tinyint"):
            out[c] = int(v)
        elif t in ("float", "double"):
            out[c] = float(v)
        elif t == "date":
            out[c] = datetime.date.fromisoformat(v)
        elif t == "timestamp":
            out[c] = datetime.datetime.fromisoformat(v)
        elif t == "boolean":
            out[c] = v.lower() == "true"
        else:
            out[c] = v
    return out


def read_frame(table_path: str, name: str, dv_name, col_names, col_types: dict, pmap: dict):
    """One data file's live rows as a pandas frame over the table's
    logical columns, as ``cowtable.read`` sees them: the positions of
    deletion vector ``dv_name`` (if any) masked out (position = pyarrow
    read order), physical names mapped back to logical ones, Hive
    partition values re-injected typed, and columns the file predates
    read as NULL."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pdf = pq.read_table(os.path.join(data_dir(table_path), name)).to_pandas()
    if dv_name is not None:
        import numpy as np

        t = pq.read_table(os.path.join(table_path, DV_DIR, dv_name), columns=["file", "pos"])
        pos = t.filter(pc.equal(t["file"], name.rsplit("/", 1)[-1]))["pos"].to_numpy()
        if len(pos):
            keep = np.ones(len(pdf), dtype=bool)
            keep[pos.astype(int)] = False
            pdf = pdf[keep].reset_index(drop=True)
    if pmap:
        pdf = pdf.rename(columns={p: c for c, p in pmap.items()})
    pvals = _part_values(name, col_names, col_types)
    for c in col_names:
        if c in pvals:
            pdf[c] = pvals[c]
        elif c not in pdf.columns:
            pdf[c] = None
    return pdf[list(col_names)]


def py_rows(pdf):
    """A pandas frame's rows as tuples of plain Python values (NaN and
    NaT become None)."""
    import pandas as pd

    for tup in pdf.itertuples(index=False, name=None):
        yield tuple(
            None
            if v is None or (isinstance(v, float) and v != v) or v is pd.NaT
            else (
                v.to_pydatetime()
                if isinstance(v, pd.Timestamp)
                else v.item() if hasattr(v, "item") else v
            )
            for v in tup
        )
