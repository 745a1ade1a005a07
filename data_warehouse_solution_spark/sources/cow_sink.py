"""``cowsink``: a Spark 4 Python STREAMING Data Source WRITER that
commits each micro-batch into a copy-on-write snapshot table.

Completes the custom-source surface: ``httpcsv`` is a batch READER,
``cowcdc`` a streaming READER, this is the streaming WRITER — so the
whole lakehouse loop (files -> stream -> COW table -> change feed ->
derived table) runs through idiomatic ``readStream``/``writeStream``
format strings instead of ``foreachBatch`` plumbing (which remains
available, and required, for the merge/upsert and constraint-checked
shapes: ``stream_upsert_to_cow_table``).

Protocol mapping (the Spark DSv2 writer contract onto the COW commit
protocol):

- ``write(iterator)`` runs PER PARTITION on executors: it stages one
  parquet file under the table's ``data/`` dir (typed by the TABLE
  schema resolved at ``streamWriter`` time, so the physical parquet
  types always match the manifest) and returns the manifest entry
  (rows, min/max stats with ISO-encoded temporals, null counts) as
  its commit message. Staged bytes are INVISIBLE until a manifest
  publishes them — a mid-batch crash orphans files that ``vacuum``
  reclaims, never corrupts the table.
- ``commit(messages, batchId)``: ONE atomic new-files-only snapshot.
  The operation label embeds a PER-QUERY app id (hash of the
  checkpoint location or an explicit ``txnAppId`` option) plus the
  ``batchId`` — Delta's (appId, version) txn action — so two queries
  feeding one table never mistake each other's batches for replays.
  A REPLAYED batch (restart from checkpoint after a crash between
  sink commit and checkpoint write) is detected from the per-app txn
  sidecar (``_sink_txn/<app>.json``, atomically replaced after each
  successful OR skipped commit and durable across ``vacuum`` — label
  evidence alone would expire with old manifests), backed by a
  label scan over retained heads for the crash window where the
  sidecar lags the manifest link; the scan is incremental per writer
  instance (amortized O(new commits) per batch, not O(history));
  detected replays delete their re-staged files and commit nothing —
  at-least-once delivery, exactly-once table effect. The manifest
  publish is an ``os.link`` (fails if the target snapshot exists),
  which is the local-FS equivalent of the exists-check + rename
  ``cowtable._publish`` does — losing a race
  against a concurrent writer reloads the head and retries, exactly
  like ``cowtable.append``; a mid-stream appearance of a feature the
  sink cannot honor (constraints/partitioning/blooms) fails the
  batch loudly instead of erasing it from the manifest chain.
- ``abort`` deletes whatever the failed batch staged.

Spark runs every one of these hooks in separate Python worker
processes with no SparkSession. They import the engine code directly
(``register_once`` ships the package to the workers with
``addPyFile``); table-level validation (schema match, unsupported
table features) happens once in ``streamWriter``. Staging, validation
and the commit protocol are shared with the ``cow`` batch writer
(``sources/_staging.py``).

Scope: local-filesystem tables (same as ``cowcdc``). Partitioned,
bloom-indexed, CHECK-constrained, and BUCKETED tables are FULLY
supported at engine parity (same Hive-dir staging, identical XXH64
manifest blooms and Murmur3 bucket assignment via ``hashing``
— one bucket per staged file, ``_000NN`` suffix, within-bucket sort
honored — DuckDB-ANSI constraint validation over each task's rows
before any byte lands; parseability probed at query start).
Generated-column tables are supported when every generated
expression is DuckDB-expressible AND type-exact (probed at query
start — see ``_staging.plan_write``); the sink then
recomputes the generated values per micro-batch task, overwriting
whatever the stream carried, exactly like the engine's
``_apply_generated``. Spark-dialect expressions are still refused
loudly with a pointer to foreachBatch + cowtable.append. A mid-stream
DIVERGENCE of any table feature from what the writer captured fails
the batch loudly.
"""

from __future__ import annotations

import hashlib
import json
import os
import uuid

from pyspark.sql.datasource import (
    CaseInsensitiveDict,
    DataSource,
    DataSourceStreamWriter,
    WriterCommitMessage,
)

from . import _local, _staging


class CowStagedFile(WriterCommitMessage):
    def __init__(self, entries):
        self.entries = entries  # manifest entries (0..n per task)


class CowSinkStreamWriter(DataSourceStreamWriter):
    def __init__(self, spec, app_id):
        self.spec = spec
        self.table_path = spec["table_path"]
        self.app_id = app_id
        # incremental head-scan cache for the replay fallback
        self._seen_ops: set = set()
        self._scanned_upto = 0

    def write(self, iterator):
        # one micro-batch partition: bounded
        rows = [r.asDict() if hasattr(r, "asDict") else dict(r) for r in iterator]
        return CowStagedFile(_staging.stage_task(rows, self.spec, "sink", "cowsink"))

    def _txn_path(self):
        return os.path.join(self.table_path, "_sink_txn", f"{self.app_id}.json")

    def _already_committed(self, batchId):
        """Replay probe. The per-app txn sidecar (one read,
        survives vacuum — snapshot-label evidence alone would
        vanish with expired manifests and let a late replay
        duplicate rows) answers the replay-positive case; the
        crash window where the sidecar lags the manifest link is
        covered by a label scan over retained heads that is
        INCREMENTAL per writer instance (each head is parsed once
        per stream lifetime, so steady-state commits re-read only
        the snapshots added since the previous batch — amortized
        O(new commits), not O(history) per batch)."""
        try:
            with open(self._txn_path()) as fh:
                if batchId <= json.load(fh)["last_batch"]:
                    return True
        except (FileNotFoundError, ValueError, KeyError):
            pass
        for n in _local.snapshots(self.table_path):
            if n <= self._scanned_upto:
                continue
            m = _local.load_manifest(self.table_path, n, expand=False)
            self._seen_ops.add(m.get("operation"))
            self._scanned_upto = max(self._scanned_upto, n)
        # ONLY app-scoped labels count as replay evidence. An
        # unscoped legacy label (pre-app-id sink builds wrote
        # "stream_append_batch_N") must NOT match: on a table that
        # ever received such commits, a brand-new query's batches
        # 0..N would read as replays and be silently dropped —
        # data loss, the exact failure the app scoping prevents.
        # The framework is unreleased, so there is no upgrade
        # population to honor; old-label tables just get their
        # crash window re-covered by the sidecar going forward.
        return f"stream_append_{self.app_id}_batch_{batchId}" in self._seen_ops

    def _record_txn(self, batchId):
        d = os.path.dirname(self._txn_path())
        os.makedirs(d, exist_ok=True)
        # never regress the high-water mark: a replay detected via
        # the label scan for an OLD batch must not rewind the
        # sidecar below batches already recorded (their vacuum-
        # durable replay evidence would silently weaken)
        try:
            with open(self._txn_path()) as fh:
                batchId = max(batchId, json.load(fh)["last_batch"])
        except (FileNotFoundError, ValueError, KeyError):
            pass
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump({"last_batch": batchId}, fh)
        os.replace(tmp, self._txn_path())  # atomic on POSIX

    def commit(self, messages, batchId):
        if not _local.snapshots(self.table_path):
            raise ValueError(f"cowsink: no COW table at {self.table_path}")
        if self._already_committed(batchId):
            # replayed batch after a crash between sink commit and
            # checkpoint write: the snapshot already holds these
            # rows — drop the re-staged duplicates, commit nothing
            # (and repair the lagging sidecar so the next batches
            # take the fast path again)
            self._record_txn(batchId)
            _staging.drop_staged(self.table_path, messages)
            return
        if not any(m is not None and m.entries for m in messages):
            return
        _staging.commit(
            self.spec,
            messages,
            f"stream_append_{self.app_id}_batch_{batchId}",
            "cowsink",
        )
        self._record_txn(batchId)

    def abort(self, messages, batchId):
        _staging.drop_staged(self.table_path, messages)


class CowSinkDataSource(DataSource):
    """``writeStream.format("cowsink").option("tablePath", p)``
    after ``register_cow_sink(spark)``. The target table must
    already exist (create it with ``cowtable.create``)."""

    @classmethod
    def name(cls):
        return "cowsink"

    def streamWriter(self, schema, overwrite):
        options = CaseInsensitiveDict(self.options)
        table_path = _local.table_path(options, "cowsink")
        if overwrite:
            raise ValueError("cowsink supports append mode only")
        spec = _staging.plan_write(
            table_path, schema, "cowsink", "foreachBatch + cowtable.append"
        )
        # replay guard must be scoped PER QUERY: keying on batchId
        # alone would make a second query's batch 0 look like a
        # replay of the first's and silently drop its data. The
        # stable query identity is the checkpoint location (Spark
        # already requires one per query) or an explicit txnAppId,
        # hashed into the operation label and the txn sidecar name
        # — Delta's (appId, version) txn action, same idea.
        app_src = options.get("txnAppId") or options.get("checkpointLocation")
        if not app_src:
            # a silent shared default would collide two queries'
            # replay guards and swallow one side's batches — the
            # identity must be explicit (a session-level default
            # checkpoint dir does not reach the sink options)
            raise ValueError(
                "cowsink needs a per-query identity: set the "
                "'checkpointLocation' or 'txnAppId' writeStream option"
            )
        return CowSinkStreamWriter(spec, hashlib.md5(app_src.encode()).hexdigest()[:10])


def register_cow_sink(spark) -> None:
    """Register the streaming COW sink on a session (idempotent)."""
    from . import register_once

    register_once(spark, "cowsink", lambda: spark.dataSource.register(CowSinkDataSource))
