"""Property test for the COW manifest-stat pruner: SOUNDNESS.

`stats_candidate_files` may over-approximate (keep files the exact
scan later clears) but must NEVER drop a file that contains a
matching row — a pruned-away match would silently corrupt DML. The
property: for random rows partitioned into random 'files' (stats =
exact per-file min/max) and random supported conjunction predicates,
every file holding >=1 row satisfying the predicate appears in the
candidate list. Pure Python — no Spark session needed.
"""

from __future__ import annotations

from .conftest import hyp_examples
from hypothesis import given, settings
from hypothesis import strategies as st

from data_warehouse_solution_spark.cowtable import stats_candidate_files
from data_warehouse_solution_spark.hashing import bloom_positions

_OPS = ["=", "<", "<=", ">", ">="]

_BLOOM_M, _BLOOM_K = 1 << 12, 5


def _mk_bloom(chunk: list[dict], col: str) -> dict:
    """Per-file bloom over chunk[col] values, built with the SAME
    position function the probe uses (JVM-vs-Python hash parity is
    pinned separately in tests/test_cowtable.py); the property then
    guards the probe logic itself — int/str literal formatting,
    bitmap indexing, op gating."""
    import base64

    bitmap = bytearray(_BLOOM_M >> 3)
    for r in chunk:
        for p in bloom_positions(str(r[col]), _BLOOM_M, _BLOOM_K):
            bitmap[p >> 3] |= 1 << (p & 7)
    return {"m": _BLOOM_M, "k": _BLOOM_K, "b64": base64.b64encode(bytes(bitmap)).decode()}


def _py_eval(row: dict, col: str, op: str, val) -> bool:
    x = row[col]
    if op == "=":
        return x == val
    if op == "<":
        return x < val
    if op == "<=":
        return x <= val
    if op == ">":
        return x > val
    return x >= val


rows_strategy = st.lists(
    st.fixed_dictionaries(
        {
            "k": st.integers(min_value=-1000, max_value=1000),
            "v": st.floats(
                min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
            ),
            "s": st.text(alphabet="abcxyz", min_size=0, max_size=4),
        }
    ),
    min_size=1,
    max_size=60,
)

conjuncts_strategy = st.lists(
    st.tuples(
        st.sampled_from(["k", "v", "s"]),
        st.sampled_from(_OPS),
    ),
    min_size=1,
    max_size=3,
)


@settings(max_examples=hyp_examples(200), deadline=None)
@given(
    rows=rows_strategy,
    n_files=st.integers(min_value=1, max_value=5),
    conjunct_shapes=conjuncts_strategy,
    or_shape=st.one_of(
        st.none(), st.tuples(st.sampled_from(["k", "v", "s"]), st.sampled_from(_OPS))
    ),
    in_shape=st.one_of(
        st.none(),
        st.tuples(
            st.sampled_from(["k", "v", "s"]),
            st.integers(min_value=1, max_value=4),  # list length
            st.booleans(),  # True: IN (..) syntax, False: (a=x OR a=y)
        ),
    ),
    data=st.data(),
)
def test_pruner_never_drops_a_matching_file(
    rows, n_files, conjunct_shapes, or_shape, in_shape, data
):
    # partition rows round-robin into "files" with exact min/max stats
    files = []
    for i in range(n_files):
        chunk = rows[i::n_files]
        if not chunk:
            continue
        stats = {
            c: [min(r[c] for r in chunk), max(r[c] for r in chunk)] for c in ("k", "v", "s")
        }
        files.append(
            {
                "name": f"f{i}",
                "rows": len(chunk),
                "stats": stats,
                "blooms": {c: _mk_bloom(chunk, c) for c in ("k", "s")},
                "_rows": chunk,
            }
        )
    manifest = {"files": files}

    # build the predicate string + its python evaluator
    def _draw(col, op):
        if col == "k":
            val = data.draw(st.integers(min_value=-1000, max_value=1000))
            lit = str(val)
        elif col == "v":
            val = float(data.draw(st.integers(min_value=-1000, max_value=1000)))
            lit = f"{val:.1f}"
        else:
            val = data.draw(st.text(alphabet="abcxyz", min_size=0, max_size=4))
            lit = f"'{val}'"
        return (col, op, val), f"{col} {op} {lit}"

    parts = []
    evals = []
    for col, op in conjunct_shapes:
        ev, txt = _draw(col, op)
        parts.append(txt)
        evals.append(ev)

    in_eval = None
    if in_shape is not None:
        # an IN-list conjunct in either surface syntax — both must
        # parse to the same pruning fact and both must stay sound
        col, n_vals, as_in = in_shape
        drawn = [_draw(col, "=") for _ in range(n_vals)]
        vals = [ev[2] for ev, _ in drawn]
        lits = [txt.split("=", 1)[1].strip() for _, txt in drawn]
        if as_in:
            parts.append(f"{col} IN ({', '.join(lits)})")
        else:
            parts.append("(" + " OR ".join(f"{col} = {lit}" for lit in lits) + ")")
        in_eval = (col, vals)

    condition = " AND ".join(parts)

    def _matches(r):
        if in_eval is not None and r[in_eval[0]] not in in_eval[1]:
            return False
        return all(_py_eval(r, c, o, v) for c, o, v in evals)

    if or_shape is not None:
        # append a top-level OR disjunct: "(a AND b) OR d" semantics in
        # SQL precedence — the pruner must recognize this is NOT a pure
        # conjunction and keep every file (the round-4 unsoundness)
        ev, txt = _draw(*or_shape)
        condition = f"{condition} OR {txt}"
        conj_matches = _matches

        def _matches(r):  # noqa: F811 — disjunctive evaluator
            return conj_matches(r) or _py_eval(r, *ev)

    kept = {f["name"] for f in stats_candidate_files(manifest, condition)}
    for f in files:
        if any(_matches(r) for r in f["_rows"]):
            assert f["name"] in kept, (condition, f["stats"])


def test_toplevel_or_disables_pruning_entirely():
    """Reproduces the round-4 unsoundness: with 'k = 1 AND v = 2.0 OR
    s = 'z'', a file whose stats refute k = 1 can still hold s = 'z'
    rows — any pruning here silently corrupts DELETE/UPDATE."""
    manifest = {
        "files": [
            {"name": "f0", "rows": 1, "stats": {"k": [7, 7], "v": [9.0, 9.0], "s": ["z", "z"]}}
        ]
    }
    kept = {f["name"] for f in stats_candidate_files(manifest, "k = 1 AND v = 2.0 OR s = 'z'")}
    assert kept == {"f0"}


def test_not_disables_pruning():
    """'NOT (k = 7)' against stats [9,9]: extracting 'k = 7' from
    inside the NOT would refute the file, yet its k=9 rows MATCH the
    negation — a NOT anywhere outside quotes must disable pruning."""
    manifest = {"files": [{"name": "f0", "rows": 1, "stats": {"k": [9, 9]}}]}
    kept = {f["name"] for f in stats_candidate_files(manifest, "NOT (k = 7)")}
    assert kept == {"f0"}


def test_or_inside_string_literal_still_prunes():
    """An OR that appears only INSIDE a quoted literal does not make
    the condition disjunctive — conjunct pruning stays active."""
    manifest = {
        "files": [
            {"name": "lo", "rows": 1, "stats": {"k": [0, 4], "s": ["a", "z"]}},
            {"name": "hi", "rows": 1, "stats": {"k": [8, 9], "s": ["a", "z"]}},
        ]
    }
    kept = {f["name"] for f in stats_candidate_files(manifest, "k >= 8 AND s = 'x OR y'")}
    assert kept == {"hi"}  # k-range pruning still active despite the quoted OR


def test_separator_inside_string_literal_disables_pruning():
    """A quoted literal containing ' AND ' must not fabricate
    conjuncts (the naive split would extract "k = 3" below and prune
    on a condition the predicate never implied)."""
    manifest = {
        "files": [
            {"name": "f0", "rows": 1, "stats": {"k": [7, 7], "s": ["a AND k = 3 AND b", "a AND k = 3 AND b"]}}
        ]
    }
    cond = "s = 'a AND k = 3 AND b'"
    kept = {f["name"] for f in stats_candidate_files(manifest, cond)}
    assert kept == {"f0"}  # row k=7 matches the real predicate; file must survive


def test_in_list_pruning_effective_on_blooms_and_ranges():
    """`k IN (...)` and `(k = x OR k = y)` prune: a file is dropped
    only when EVERY listed value is refuted (bloom or min/max), kept
    as soon as one may match. The round-5 parser disabled pruning on
    these shapes entirely."""
    f_low = {
        "name": "low", "rows": 3,
        "stats": {"k": [1, 3]}, "blooms": {"k": _mk_bloom([{"k": v} for v in (1, 2, 3)], "k")},
    }
    f_high = {
        "name": "high", "rows": 3,
        "stats": {"k": [100, 300]},
        "blooms": {"k": _mk_bloom([{"k": v} for v in (100, 200, 300)], "k")},
    }
    # bloom-refutable INSIDE the range: 150 is within [100, 300] but
    # was never inserted — only the bloom can refute it
    m = {"files": [f_low, f_high]}
    for cond in ("k IN (150, 2)", "(k = 150 OR k = 2)"):
        kept = {f["name"] for f in stats_candidate_files(m, cond)}
        assert kept == {"low"}, cond
    # every value refuted everywhere -> nothing survives
    assert stats_candidate_files(m, "k IN (50, 60)") == []
    # one value matching each file -> both kept
    kept = {f["name"] for f in stats_candidate_files(m, "k IN (2, 200)")}
    assert kept == {"low", "high"}
    # non-literal item (subquery) -> conjunct contributes nothing
    kept = {f["name"] for f in stats_candidate_files(m, "k IN (SELECT 1)")}
    assert kept == {"low", "high"}
    # mixed-column OR is NOT an IN-list: no pruning from that part
    kept = {f["name"] for f in stats_candidate_files(m, "(k = 2 OR j = 5)")}
    assert kept == {"low", "high"}
    # ... but an adjacent required conjunct still prunes
    kept = {f["name"] for f in stats_candidate_files(m, "(k = 2 OR j = 5) AND k <= 50")}
    assert kept == {"low"}
