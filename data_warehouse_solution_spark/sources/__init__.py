"""Custom Spark data sources (Python Data Source API, Spark 4).

``http_csv`` is the Spark-native re-architecture of the reference's
URL ingest path (``pipeline.py:87-100`` download-with-retry +
``pipeline.py:205`` pandas CSV chunking): one InputPartition per URL,
fetched and parsed ON THE EXECUTORS with the same 3x2s retry policy —
the driver never touches the bytes, so a thousand-file feed scales
with the cluster instead of the reference's 4-thread pool. ``cow``,
``cowcdc`` and ``cowsink`` read and write copy-on-write tables.

Every source's hooks run in Spark's Python worker processes, which
unpickle the source classes BY REFERENCE: the workers must be able to
import this package. ``register_once`` ships it to them — a zip of the
package's ``.py`` files, ``addPyFile``d once per SparkContext before the
first registration — so the sources import engine code like any other
module, on any cluster and from any working directory.
"""

import os
import threading
import weakref
import zipfile

_REGISTER_LOCK = threading.Lock()
_REGISTERED: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_SHIPPED: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _ship_package(sc) -> None:
    """Zip the package's ``.py`` files into the SparkContext's file root
    and ``addPyFile`` the zip, so every Python worker can import it.
    Data-source registrations capture the context's Python includes when
    they are made, so this must run before the first one."""
    from pyspark import SparkFiles

    pkg = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    parent = os.path.dirname(pkg)
    out = os.path.join(SparkFiles.getRootDirectory(), "dws-package")
    os.makedirs(out, exist_ok=True)
    zpath = os.path.join(out, f"{os.path.basename(pkg)}.zip")
    with zipfile.ZipFile(zpath, "w") as zf:  # stored: ~10x faster to build than deflated
        for root, dirs, files in os.walk(pkg):
            dirs[:] = sorted(d for d in dirs if d != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.relpath(full, parent))
    sc.addPyFile(zpath)


def register_once(spark, name: str, do) -> None:
    """Run a data-source registration exactly once per session,
    serialized, after shipping the package to the session's workers
    (once per SparkContext). ``spark.dataSource.register`` swaps the
    registry entry non-atomically, so two threads registering the same
    source — e.g. a thread pool building independent queries that each
    call their ``register_*`` helper — can leave a window where a
    concurrent ``.format(name)`` resolution fails with
    dataSourceNotFoundError. The lock removes the window; the
    per-session memo keeps repeated registration (every query calls it
    defensively) free."""
    with _REGISTER_LOCK:
        sc = spark.sparkContext
        if sc not in _SHIPPED:
            _ship_package(sc)
            _SHIPPED[sc] = True
        done = _REGISTERED.setdefault(spark, set())
        if name in done:
            return
        do()
        done.add(name)


from .http_csv import HttpCsvDataSource, register_http_csv  # noqa: E402

__all__ = ["HttpCsvDataSource", "register_http_csv", "register_once"]
