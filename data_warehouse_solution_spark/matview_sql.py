"""Materialized views through the SQL gate (r14, VERDICT r13 punch
#2): ``CREATE [OR REPLACE] MATERIALIZED VIEW name AS <query>`` /
``REFRESH MATERIALIZED VIEW name`` / ``SHOW MATERIALIZED VIEWS`` /
``DROP MATERIALIZED VIEW name``.

The reference's warehouse is Dremio, whose core acceleration
primitive is the REFLECTION — a materialized aggregate maintained
over a virtual dataset (``README.md:3-4``). This engine already had
both halves as separate features: stored-SQL views (``catalog.py`` /
``sql_gate._create_view``) and CDF-incremental aggregate maintenance
(``operators/matview.py``). This module joins them into the SQL
surface:

- the catalog entry (kind ``matview``) stores the definition text,
  the backing COW table path, the maintenance mode, and — in
  incremental mode — the parsed aggregate spec plus the base table's
  last-refreshed snapshot id;
- CREATE materializes the definition into a backing COW table under
  ``<catalog>/matviews/<name>``, pinned at the base's snapshot at
  create time (read-after-record would silently double-count a
  concurrent commit on the first REFRESH);
- REFRESH folds the base's Change Data Feed since the recorded
  snapshot through ``operators.matview.maintain_aggregates`` —
  O(changed rows) + O(view), the base facts are never rescanned
  (except the scoped MIN/MAX recompute split) — and commits the new
  view state as ONE atomic ``replace_table`` snapshot;
- reads resolve the NAME to the backing table (stale until REFRESH,
  Dremio's reflection semantics), projecting away the hidden
  maintenance columns;
- definitions the incremental parser cannot prove maintainable
  (joins, expressions, HAVING, other aggregates) still work: they
  fall back to ``mode='full'`` where REFRESH re-plans the stored
  text and replaces the backing table — correct for ANY definition,
  with the mode visible in SHOW MATERIALIZED VIEWS so the trade is
  never silent.

100 TB shape: the backing table is group-cardinality sized, the CDF
delta is O(changed rows), and the only base access in incremental
mode is the broadcast-semi-join-scoped MIN/MAX recompute. A refresh
therefore costs O(delta + view), never O(facts) — the whole point of
a reflection.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import catalog as _cat
from . import cowtable as cow
from . import sqltext

_IDENT = r"[A-Za-z_][A-Za-z0-9_]*"
_AGG_ITEM_RE = re.compile(
    rf"^(COUNT|SUM|MIN|MAX|AVG)\s*\(\s*(\*|`?{_IDENT}`?)\s*\)\s+AS\s+(`?{_IDENT}`?)$",
    re.IGNORECASE,
)
_BARE_COL_RE = re.compile(rf"^`?{_IDENT}`?$")


def parse_mv_spec(spark: SparkSession, body: str) -> dict | None:
    """Parse a definition into an incremental-maintenance spec, or
    None when the shape is not provably maintainable (the caller
    falls back to full-recompute mode — never a refusal).

    Provable shape: ``SELECT <items> FROM <one COW base> [WHERE
    <pred>] GROUP BY <bare columns>`` where every item is a group
    column or ``COUNT(*)|COUNT(col)|SUM(col)|MIN(col)|MAX(col) AS
    alias``. The WHERE predicate is row-local (applied identically to
    the initial aggregate and to every CDF row), which is exactly the
    class a signed-delta fold is sound for."""
    from .sql_gate import _unquote

    s = body.strip().rstrip(";").strip()
    if not re.match(r"^SELECT\b", s, re.IGNORECASE):
        return None
    f_i = sqltext.find_keyword(s, "FROM")
    g_i = sqltext.find_keyword(s, "GROUP")
    if f_i < 0 or g_i < 0:
        return None
    for kw in ("HAVING", "ORDER", "LIMIT", "QUALIFY", "JOIN", "UNION",
               "INTERSECT", "EXCEPT", "DISTINCT", "WINDOW"):
        if sqltext.find_keyword(s, kw) >= 0:
            return None
    items_txt = s[len("SELECT"):f_i]
    after_from = s[f_i + len("FROM"):g_i]
    group_txt = s[g_i + len("GROUP"):]
    gm = re.match(r"^\s*BY\b(.*)$", group_txt, re.IGNORECASE | re.DOTALL)
    if not gm:
        return None
    group_cols = []
    for g in (p.strip() for p in sqltext.split_commas(gm.group(1))):
        if not _BARE_COL_RE.match(g):
            return None
        group_cols.append(g.strip("`"))
    if not group_cols:
        return None

    w_i = sqltext.find_keyword(after_from, "WHERE")
    where = None
    base_txt = after_from.strip()
    if w_i >= 0:
        where = after_from[w_i + len("WHERE"):].strip() or None
        base_txt = after_from[:w_i].strip()
        if where is None:
            return None
    # exactly one base ref: a bare registered name or a cow.`path`
    base_path = None
    if re.match(r"^cow\.`[^`]+`$", base_txt):
        base_path = _unquote(base_txt)
    elif _cat.is_name(base_txt):
        base_path = _cat.resolve(spark, base_txt)
    if base_path is None or not cow.is_cow_table(spark, base_path):
        return None

    aggs, user_cols, seen_groups = [], [], set()
    for item in (p.strip() for p in sqltext.split_commas(items_txt)):
        am = _AGG_ITEM_RE.match(item)
        if am:
            fn, arg, alias = (
                am.group(1).upper(),
                am.group(2).strip("`"),
                am.group(3).strip("`"),
            )
            if alias.startswith("__"):
                return None  # "__" aliases reserved for maintenance cols
            if arg == "*":
                if fn != "COUNT":
                    return None
                aggs.append({"kind": "count", "col": None, "alias": alias})
            else:
                kind = {
                    "COUNT": "count_col",
                    "SUM": "sum",
                    "MIN": "min",
                    "MAX": "max",
                    "AVG": "avg",
                }[fn]
                aggs.append({"kind": kind, "col": arg, "alias": alias})
            user_cols.append(alias)
        elif _BARE_COL_RE.match(item):
            c = item.strip("`")
            if c not in group_cols:
                return None
            seen_groups.add(c)
            user_cols.append(c)
        else:
            return None
    if not aggs or seen_groups != set(group_cols):
        return None
    if len(set(user_cols)) != len(user_cols):
        return None
    if any(a["kind"] == "avg" for a in aggs):
        # AVG maintains from hidden sum+count and re-divides; for a
        # DECIMAL summand Spark's Average applies its own operand
        # casts before the divide, so the re-division could differ in
        # the last scale digit — demote to full-recompute mode rather
        # than risk a silent off-by-ulp vs the definition
        from pyspark.sql import types as T

        base_types = {
            f.name: f.dataType for f in cow.read(spark, base_path).schema.fields
        }
        for a in aggs:
            if a["kind"] == "avg" and isinstance(
                base_types.get(a["col"]), T.DecimalType
            ):
                return None
    return {
        "group_cols": group_cols,
        "aggs": aggs,
        "where": where,
        "base": base_txt,
        "base_path": base_path,
        "user_cols": user_cols,
    }


def _backing_path(spark: SparkSession, name: str) -> str:
    return f"{_cat.catalog_dir(spark)}/matviews/{_cat.normalize_name(name)}"


def _materialize(
    spark: SparkSession, entry: dict, pinned_snapshot: int | None
) -> DataFrame:
    """The full-recompute frame for an entry: incremental mode builds
    ``full_aggregate`` over the (optionally pinned) base read so the
    hidden maintenance columns exist from day one; full mode re-plans
    the stored text."""
    from .operators.matview import full_aggregate
    from .sql_gate import run_sql

    if entry["mode"] != "incremental":
        return run_sql(spark, entry["sql"])
    spec = entry["spec"]
    base = cow.read(spark, entry["base_path"], snapshot=pinned_snapshot)
    if spec["where"]:
        base = base.filter(F.expr(spec["where"]))
    return full_aggregate(base, spec["group_cols"], spec["aggs"])


def _stats(spark: SparkSession, name: str, entry: dict, refreshed: bool) -> DataFrame:
    return spark.createDataFrame(
        [
            (
                _cat.normalize_name(name),
                entry["mode"],
                bool(refreshed),
                entry.get("last_snapshot"),
            )
        ],
        "matview string, mode string, refreshed boolean, base_snapshot long",
    )


def create_matview(
    spark: SparkSession,
    name: str,
    body: str,
    replace: bool,
    if_not_exists: bool = False,
) -> DataFrame:
    """``CREATE [OR REPLACE] MATERIALIZED VIEW [IF NOT EXISTS] name
    AS <query>``."""
    from .sql_gate import (
        _strip_trailing_line_comment,
        _VERB_RE,
        run_sql,
    )

    if if_not_exists:
        cur = _cat.resolve_matview(spark, name)
        if cur is not None:
            # existing matview wins, no-op (tables/views still refuse)
            return _stats(spark, name, cur, refreshed=False)
    body = _strip_trailing_line_comment(body or "")
    head = _VERB_RE.match(body)
    bverb = head.group(1).upper() if head else ""
    if bverb not in ("SELECT", "WITH"):
        raise ValueError(
            "CREATE MATERIALIZED VIEW body must be a query (SELECT/"
            f"WITH), got verb {bverb or '<empty>'!r}"
        )
    prior = _cat.resolve_matview(spark, name)
    if prior is not None and not replace:
        raise ValueError(
            f"materialized view {_cat.normalize_name(name)!r} already "
            "exists — DROP MATERIALIZED VIEW it or use CREATE OR REPLACE"
        )
    # validate by planning BEFORE anything durable (r11 convention:
    # a malformed OR REPLACE must leave the old state intact)
    try:
        run_sql(spark, body).schema
    except Exception as e:
        raise ValueError(
            f"CREATE MATERIALIZED VIEW body does not plan: {e}"
        ) from None
    spec = parse_mv_spec(spark, body)
    entry: dict = {"sql": body, "table": _backing_path(spark, name)}
    if spec is not None:
        pinned = cow.current_snapshot(spark, spec["base_path"])
        entry.update(
            mode="incremental",
            spec={k: spec[k] for k in ("group_cols", "aggs", "where", "base")},
            base_path=spec["base_path"],
            user_cols=spec["user_cols"],
            last_snapshot=pinned,
        )
        entry["spec"]["base_path"] = spec["base_path"]
        payload = _materialize(spark, entry, pinned)
    else:
        payload = run_sql(spark, body)
        entry.update(
            mode="full", user_cols=list(payload.columns), last_snapshot=None
        )
    back = entry["table"]
    if cow.is_cow_table(spark, back):
        if prior is None:
            # an orphaned backing table from an out-of-band state —
            # never adopt silently
            raise ValueError(
                f"backing table {back!r} already exists without a "
                "registered materialized view — remove it first"
            )
        cow.replace_table(spark, back, payload)
    else:
        cow.create(spark, back, payload)
    try:
        _cat.register_matview(spark, name, entry, replace=replace)
    except Exception:
        if prior is None:
            cow.drop(spark, back)  # never orphan the just-created table
        raise
    return _stats(spark, name, entry, refreshed=True)


def refresh_matview(spark: SparkSession, name: str) -> DataFrame:
    """``REFRESH MATERIALIZED VIEW name`` — incremental mode folds
    the base CDF since the recorded snapshot through
    ``maintain_aggregates`` and commits ONE ``replace_table``
    snapshot; full mode re-plans the stored definition. A base whose
    path changed under the name (CREATE OR REPLACE ... LOCATION)
    re-baselines with a full recompute instead of folding a
    mismatched change feed."""
    from .operators.matview import maintain_aggregates

    e = _cat.resolve_matview(spark, name)
    if e is None:
        kind = _cat.entry_kind(spark, name)
        extra = f" (the name is a registered {kind})" if kind else ""
        raise ValueError(
            f"unknown materialized view {_cat.normalize_name(name)!r}{extra}"
        )
    back = e["table"]
    if e["mode"] != "incremental":
        from .sql_gate import run_sql

        cow.replace_table(spark, back, run_sql(spark, e["sql"]))
        return _stats(spark, name, e, refreshed=True)

    spec = e["spec"]
    base_path = spec["base_path"]
    if _cat.is_name(spec["base"]):
        now_path = _cat.resolve(spark, spec["base"])
        if now_path is None:
            raise ValueError(
                f"materialized view base {spec['base']!r} is no "
                "longer a registered table — DROP MATERIALIZED "
                f"VIEW {_cat.normalize_name(name)!r} or restore it"
            )
        base_path = now_path
    rebaseline = base_path != spec["base_path"] or not cow.is_cow_table(
        spark, base_path
    )
    if rebaseline:
        if not cow.is_cow_table(spark, base_path):
            raise ValueError(
                f"materialized view base table {base_path!r} no longer "
                "exists — DROP MATERIALIZED VIEW "
                f"{_cat.normalize_name(name)!r} or restore the base"
            )
        pinned = cow.current_snapshot(spark, base_path)
        e2 = dict(e)
        e2["spec"] = dict(spec, base_path=base_path)
        e2["base_path"] = base_path
        e2["last_snapshot"] = pinned
        cow.replace_table(spark, back, _materialize(spark, e2, pinned))
        _cat.register_matview(spark, name, {k: v for k, v in e2.items() if k != "kind"}, replace=True)
        return _stats(spark, name, e2, refreshed=True)

    cur = cow.current_snapshot(spark, base_path)
    last = e["last_snapshot"]
    if cur == last:
        return _stats(spark, name, e, refreshed=False)
    ch = cow.changes(spark, base_path, from_snapshot=last, to_snapshot=cur)
    if spec["where"]:
        ch = ch.filter(F.expr(spec["where"]))
    base_now = cow.read(spark, base_path, snapshot=cur)
    if spec["where"]:
        base_now = base_now.filter(F.expr(spec["where"]))
    view0 = cow.read(spark, back)
    # maintain_aggregates checkpoints its group-cardinality join
    # internally (r14) — the staging write below is the ONE
    # materialization of the remaining fold; a second eager
    # checkpoint here would just add a pass. Free the fold's
    # checkpoint blocks once the new snapshot is committed.
    from .plans import free_local_checkpoints

    maintained = maintain_aggregates(
        view0, ch, base_now, spec["group_cols"], spec["aggs"]
    )
    cow.replace_table(spark, back, maintained)
    free_local_checkpoints(maintained)
    e2 = dict(e, last_snapshot=cur)
    _cat.register_matview(
        spark, name, {k: v for k, v in e2.items() if k != "kind"}, replace=True
    )
    return _stats(spark, name, e2, refreshed=True)


def drop_matview(
    spark: SparkSession, name: str, if_exists: bool
) -> DataFrame:
    e = _cat.resolve_matview(spark, name)
    if e is None:
        kind = _cat.entry_kind(spark, name)
        if kind is not None:
            raise ValueError(
                f"{_cat.normalize_name(name)!r} is a registered {kind} "
                "— DROP MATERIALIZED VIEW applies to materialized "
                "views only"
            )
        if not if_exists:
            raise ValueError(
                f"unknown materialized view {_cat.normalize_name(name)!r}"
            )
        return spark.createDataFrame([(False,)], "dropped boolean")
    # unregister FIRST: a crash between the two steps leaves a dangling
    # backing table (re-runnable cleanup), never a registered name
    # whose backing table is gone (an unreadable matview)
    _cat.unregister(spark, name, if_exists=True)
    if cow.is_cow_table(spark, e["table"]):
        cow.drop(spark, e["table"])
    return spark.createDataFrame([(True,)], "dropped boolean")


def show_matviews(spark: SparkSession, like: str | None) -> DataFrame:
    import fnmatch

    rows = []
    for nm, e in sorted(_cat.matviews(spark).items()):
        if like is not None and not fnmatch.fnmatch(nm, like.lower()):
            continue
        rows.append(
            (nm, e["mode"], e.get("last_snapshot"), e["sql"], e["table"])
        )
    return spark.createDataFrame(
        rows,
        "name string, mode string, base_snapshot long, definition string, "
        "backing_table string",
    )


def refresh_matview_streaming(spark: SparkSession, name: str) -> dict:
    """Maintain a SQL-defined incremental matview through the
    STREAMING transport (r14 punch #7): the base's ``cowcdc`` stream
    (offsets = snapshot ids) feeds ``foreachBatch``, each epoch folds
    its CDC rows through the same ``maintain_aggregates`` algebra and
    commits one ``replace_table`` snapshot on the backing table —
    batch REFRESH and streaming maintenance share one fold, so they
    cannot diverge. The catalog entry's ``last_snapshot`` advances to
    the base head afterwards, making batch REFRESH a no-op for the
    epochs the stream already applied. Returns ``{"epochs": n}``."""
    from .operators.matview import maintain_aggregates
    from .sources.cow_cdc import register_cow_cdc

    e = _cat.resolve_matview(spark, name)
    if e is None or e["mode"] != "incremental":
        raise ValueError(
            f"streaming maintenance needs an INCREMENTAL materialized "
            f"view; {_cat.normalize_name(name)!r} is "
            f"{'unknown' if e is None else e['mode']}"
        )
    spec = e["spec"]
    base_path = spec["base_path"]
    back = e["table"]
    n_epochs = {"n": 0}

    def fold(batch_df: DataFrame, epoch: int) -> None:
        ch = batch_df
        if spec["where"]:
            ch = ch.filter(F.expr(spec["where"]))
        if ch.isEmpty():
            return
        base_now = cow.read(spark, base_path)
        if spec["where"]:
            base_now = base_now.filter(F.expr(spec["where"]))
        view0 = cow.read(spark, back)
        # same single-materialization shape as batch REFRESH (r14):
        # the fold checkpoints its join internally; staging is the
        # one pass, blocks freed after the commit
        from .plans import free_local_checkpoints

        maintained = maintain_aggregates(
            view0, ch, base_now, spec["group_cols"], spec["aggs"]
        )
        cow.replace_table(spark, back, maintained)
        free_local_checkpoints(maintained)
        n_epochs["n"] += 1

    register_cow_cdc(spark)
    stream = (
        spark.readStream.format("cowcdc")
        .option("tablePath", base_path)
        .option("startingSnapshot", str(e["last_snapshot"]))
        .load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .foreachBatch(fold)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(30)
    e2 = dict(e, last_snapshot=cow.current_snapshot(spark, base_path))
    _cat.register_matview(
        spark, name, {k: v for k, v in e2.items() if k != "kind"}, replace=True
    )
    return {"epochs": n_epochs["n"]}
