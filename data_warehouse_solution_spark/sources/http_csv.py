"""``httpcsv`` — a Python Data Source that reads CSV files from
http(s) (or file://) URLs, partition-parallel with per-fetch retry.

Reference parity (SURVEY §2.A):

- A3 download-with-retry (``pipeline.py:87-100``): same 3-attempt /
  2-second policy, but executed per-partition on executors, so a
  transient failure retries one file, not the whole job.
- A4 chunked CSV scan (``pipeline.py:205``): the reference re-read
  the whole file through pandas in 1000-row chunks on one thread;
  here every URL is an ``InputPartition`` and the cluster fetches
  them concurrently.
- A12 declarative spec: URLs arrive via the ``urls`` option
  (newline- or comma-separated), not interactive stdin.

Usage::

    register_http_csv(spark)
    df = (spark.read.format("httpcsv")
          .option("urls", "https://host/a.csv\\nhttps://host/b.csv")
          .schema("name string, value double")   # or rely on inference
          .load())

Schema handling: if the user supplies none, the source infers
string columns from the FIRST url's header row (driver-side, one
small fetch — the same single-file peek ``spark.read.csv`` performs).
All values surface as strings in that mode; supply a typed schema for
real types (the reference's SQLite → Dremio type map is the
``ingest.canonicalize_schema`` cast table here).

The reader runs in Spark's Python workers, which import this module
like any other: ``register_once`` ships the package to them with
``addPyFile``.
"""

from __future__ import annotations


from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition


def fetch_with_retry(url, retries=3, delay=2.0):
    import time
    import urllib.request

    last = None
    for attempt in range(1, retries + 1):
        try:
            with urllib.request.urlopen(url) as resp:  # noqa: S310
                return resp.read()
        except Exception as err:  # noqa: BLE001 (reference retries any failure)
            last = err
            if attempt < retries:
                time.sleep(delay)
    raise RuntimeError(f"failed to fetch {url} after {retries} attempts") from last


def parse_urls(options):
    raw = options.get("urls", "")
    return [u.strip() for u in raw.replace(",", "\n").splitlines() if u.strip()]


class UrlPartition(InputPartition):
    def __init__(self, url):
        self.url = url


class HttpCsvReader(DataSourceReader):
    def __init__(self, schema, options):
        self.urls = parse_urls(options)
        if not self.urls:
            raise ValueError(
                "httpcsv requires the 'urls' option (newline- or comma-separated)"
            )
        self.schema_names = [f.name for f in schema.fields]
        self.type_names = [f.dataType.simpleString() for f in schema.fields]

    def partitions(self):
        return [UrlPartition(u) for u in self.urls]

    def read(self, partition):
        import csv
        import io

        data = fetch_with_retry(partition.url)
        text = io.TextIOWrapper(io.BytesIO(data), encoding="utf-8", newline="")
        rows = csv.reader(text)
        header = next(rows, None)
        if header is None:
            return
        # map file columns to schema columns by name when the
        # header matches, else positionally (reference: pandas
        # assigns by position)
        if set(self.schema_names) <= set(header):
            idx = [header.index(c) for c in self.schema_names]
        else:
            idx = list(range(len(self.schema_names)))

        def convert(val, type_name):
            if val == "" or val is None:
                return None
            try:
                if type_name in ("bigint", "int", "smallint", "tinyint"):
                    return int(val)
                if type_name in ("double", "float"):
                    return float(val)
                if type_name == "boolean":
                    return val.strip().lower() in ("1", "true", "t", "yes")
                return val
            except ValueError:
                return None

        for row in rows:
            if not row:
                continue
            yield tuple(
                convert(row[i] if i < len(row) else None, t)
                for i, t in zip(idx, self.type_names)
            )


class HttpCsvDataSource(DataSource):
    """CSV-over-URL source; ``format("httpcsv")`` after
    ``register_http_csv(spark)``."""

    @classmethod
    def name(cls):
        return "httpcsv"

    def schema(self):
        # no user schema: infer string columns from the first
        # URL's header (one small driver-side fetch)
        import csv
        import io

        urls = parse_urls(self.options)
        if not urls:
            raise ValueError("httpcsv requires the 'urls' option")
        data = fetch_with_retry(urls[0])
        header = next(csv.reader(io.StringIO(data.decode("utf-8"))), None)
        if not header:
            raise ValueError(f"no header row in {urls[0]}")
        return ", ".join(f"`{c}` string" for c in header)

    def reader(self, schema):
        return HttpCsvReader(schema, self.options)


def register_http_csv(spark) -> None:
    """Register the source on a session (idempotent)."""
    from . import register_once

    register_once(spark, "http_csv", lambda: spark.dataSource.register(HttpCsvDataSource))
