"""Hypothesis differential fuzzing (SURVEY.md §5.3): randomly generated
filter/aggregate pipelines run through the FULL engine and an equivalent
SQL through DuckDB on the same parquet; results must hash-match exactly.

The generator stays inside the deterministic-common-subset contract the
corpus uses (integral-sum aggregates unrounded, double sums rounded, count
everywhere), so any mismatch is an engine bug, not a float-ordering
artifact.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from conftest import assert_rows_close, canonize_rows

# (kql expression, sql expression, column) triples over lineitem
_NUM_COLS = [
    ("l_quantity", 1.0, 50.0),
    ("l_discount", 0.0, 0.1),
    ("l_tax", 0.0, 0.08),
    ("l_linenumber", 1, 7),
]
_STR_COLS = [("l_returnflag", ["A", "N", "R"]), ("l_linestatus", ["F", "O"])]
_CMP = ["<", "<=", ">", ">=", "==", "!="]


@st.composite
def predicates(draw):
    kind = draw(st.integers(0, 2))
    if kind == 0:
        col, lo, hi = draw(st.sampled_from(_NUM_COLS))
        op = draw(st.sampled_from(_CMP))
        if isinstance(lo, int):
            v = draw(st.integers(lo, hi))
            lit_k = lit_s = str(v)
        else:
            v = round(draw(st.floats(lo, hi, allow_nan=False)), 3)
            lit_k = lit_s = repr(v)
        return f"{col} {op} {lit_k}", f"{col} {op} {lit_s}"
    if kind == 1:
        col, vals = draw(st.sampled_from(_STR_COLS))
        v = draw(st.sampled_from(vals))
        neg = draw(st.booleans())
        op_k = "!=" if neg else "=="
        op_s = "<>" if neg else "="
        return f"{col} {op_k} '{v}'", f"{col} {op_s} '{v}'"
    left_k, left_s = draw(predicates())
    right_k, right_s = draw(predicates())
    conj = draw(st.sampled_from([("and", "AND"), ("or", "OR")]))
    return (
        f"({left_k}) {conj[0]} ({right_k})",
        f"({left_s}) {conj[1]} ({right_s})",
    )


# order-insensitive aggregates whose values are exact in any accumulation
# order on this fixture (counts; sums of integral-valued doubles)
_AGGS = [
    ("n = count()", "COUNT(*) AS n"),
    ("q = sum(l_quantity)", "SUM(l_quantity) AS q"),
    ("mx = max(l_extendedprice)", "MAX(l_extendedprice) AS mx"),
    ("mn = min(l_extendedprice)", "MIN(l_extendedprice) AS mn"),
    ("d = count_distinct(l_orderkey)", "CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS d"),
]
_KEYS = [
    ("l_returnflag", "l_returnflag"),
    ("l_linestatus", "l_linestatus"),
    ("l_linenumber", "l_linenumber"),
]


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pred=predicates(),
    agg_ix=st.sets(st.integers(0, len(_AGGS) - 1), min_size=1, max_size=3),
    key_ix=st.sets(st.integers(0, len(_KEYS) - 1), max_size=2),
)
def test_random_filter_aggregate_matches_duckdb(run_kql, duck, pred, agg_ix, key_ix):
    kql_pred, sql_pred = pred
    aggs = [_AGGS[i] for i in sorted(agg_ix)]
    keys = [_KEYS[i] for i in sorted(key_ix)]
    kql_aggs = ", ".join(a for a, _ in aggs)
    sql_aggs = ", ".join(s for _, s in aggs)
    if keys:
        by = " by " + ", ".join(k for k, _ in keys)
        group = " GROUP BY " + ", ".join(s for _, s in keys)
        sel_keys = ", ".join(s for _, s in keys) + ", "
    else:
        by, group, sel_keys = "", "", ""
    kdf = run_kql(f"lineitem | where {kql_pred} | summarize {kql_aggs}{by}")
    sdf = duck.sql(
        f"SELECT {sel_keys}{sql_aggs} FROM lineitem WHERE {sql_pred}{group}"
    )
    # DuckDB integer SUM -> HUGEINT; engine SUM(double) stays double. The
    # canonizer normalizes numerics at 9 significant digits, so only exact
    # values survive comparison.
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    # KQL summarize with by-keys emits no row for empty input; DuckDB's
    # global aggregate emits one zero/NULL row — align the global case
    if not keys and want and all(v in ("0", "NULL") for v in want[0]) and not got:
        want = []
    assert got == want


_JOIN_KINDS = [
    ("inner", "JOIN"),
    ("leftouter", "LEFT JOIN"),
    ("rightouter", "RIGHT JOIN"),
    ("fullouter", "FULL JOIN"),
    ("leftsemi", "SEMI JOIN"),
    ("leftanti", "ANTI JOIN"),
]


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    kind_ix=st.integers(0, len(_JOIN_KINDS) - 1),
    cust_lo=st.integers(0, 1200),
    bal=st.floats(-1000, 10000, allow_nan=False),
)
def test_random_join_matches_duckdb(run_kql, duck, kind_ix, cust_lo, bal):
    # randomized filters on both sides of a customer/orders join, all
    # outer/semi/anti kinds; count + key-sum are order-insensitive probes
    kkind, skind = _JOIN_KINDS[kind_ix]
    bal = round(bal, 2)
    kql_q = (
        f"customer | where c_custkey >= {cust_lo} and c_acctbal > {bal!r}"
        f" | join kind={kkind} (orders | where o_custkey >= {cust_lo})"
        " on $left.c_custkey == $right.o_custkey"
        " | summarize n = count(), s = sum(c_custkey)"
    )
    sql_q = (
        f"SELECT COUNT(*) AS n, SUM(c_custkey) AS s FROM"
        f" (SELECT * FROM customer WHERE c_custkey >= {cust_lo} AND c_acctbal > {bal})"
        f" c {skind}"
        f" (SELECT * FROM orders WHERE o_custkey >= {cust_lo}) o"
        " ON c.c_custkey = o.o_custkey"
    )
    got = run_kql(kql_q).collect()[0]
    want = duck.sql(sql_q).fetchone()
    # KQL sum over zero rows is null on both engines; DuckDB COUNT is never null
    assert got.n == want[0]
    assert (got.s is None and want[1] is None) or got.s == want[1]


# ------------------------------- scalar string-function differential fuzz
# Each template pairs a KQL scalar expression with its DuckDB twin; random
# constants are substituted in. Any mismatch is a semantic delta of the
# kind round 5 fixed by hand (substring negative start, overlapping
# countof, indexof occurrence) — this keeps the family pinned.

_CHARS = list("aeiolrstw")  # letters common in the part.p_name vocabulary


@st.composite
def string_exprs(draw):
    kind = draw(st.integers(0, 8))
    if kind == 0:
        i = draw(st.integers(0, 6))
        n = draw(st.integers(1, 8))
        return f'substring(p_name, {i}, {n})', f"substr(p_name, {i + 1}, {n})"
    if kind == 1:
        return "strlen(p_name)", "CAST(length(p_name) AS INT)"
    if kind == 2:
        f = draw(st.sampled_from([("toupper", "upper"), ("tolower", "lower")]))
        return f"{f[0]}(p_name)", f"{f[1]}(p_name)"
    if kind == 3:
        c = draw(st.sampled_from(_CHARS))
        return (
            f'indexof(p_name, "{c}")',
            f"CAST(instr(p_name, '{c}') - 1 AS BIGINT)",
        )
    if kind == 4:
        c = draw(st.sampled_from(_CHARS))  # single char: overlap-free
        return (
            f'countof(p_name, "{c}")',
            f"CAST(length(p_name) - length(replace(p_name, '{c}', '')) AS BIGINT)",
        )
    if kind == 5:
        c = draw(st.sampled_from(_CHARS))
        r = draw(st.sampled_from(["X", "YY", ""]))
        return (
            f'replace_string(p_name, "{c}", "{r}")',
            f"replace(p_name, '{c}', '{r}')",
        )
    if kind == 6:
        return "reverse(p_name)", "reverse(p_name)"
    if kind == 7:
        i = draw(st.integers(0, 2))
        return (
            f'tostring(split(p_name, " ")[{i}])',
            f"coalesce(string_split(p_name, ' ')[{i + 1}], '')",
        )
    i = draw(st.integers(-3, -1))
    n = draw(st.integers(1, 4))
    return f'substring(p_name, {i}, {n})', f"substr(p_name, {i}, {n})"


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(exprs=st.lists(string_exprs(), min_size=1, max_size=3))
def test_random_string_functions_match_duckdb(run_kql, duck, exprs):
    kql_proj = ", ".join(f"v{i} = {k}" for i, (k, _) in enumerate(exprs))
    sql_proj = ", ".join(f"{s} AS v{i}" for i, (_, s) in enumerate(exprs))
    kdf = run_kql(f"part | project p_partkey, {kql_proj}")
    sdf = duck.sql(f"SELECT p_partkey, {sql_proj} FROM part")
    got = canonize_rows(
        kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()]
    )
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert got == want


@st.composite
def datetime_exprs(draw):
    kind = draw(st.integers(0, 6))
    if kind == 0:
        n = draw(st.sampled_from([1, 2, 3, 5, 7, 30]))
        return (
            f"bin(o_orderdate, {n}d)",
            f"to_timestamp(floor(epoch(o_orderdate) / ({n}*86400)) * {n}*86400)",
        )
    if kind == 1:
        part = draw(st.sampled_from(["day", "month", "year"]))
        return (
            f"startof{part}(o_orderdate)",
            f"CAST(date_trunc('{part}', o_orderdate) AS TIMESTAMP)",
        )
    if kind == 2:
        unit = draw(st.sampled_from(["day", "month", "year"]))
        n = draw(st.integers(-13, 13))
        return (
            f'datetime_add("{unit}", {n}, o_orderdate)',
            f"o_orderdate + INTERVAL ({n}) {unit.upper()}",
        )
    if kind == 3:
        f = draw(st.sampled_from([
            ("getyear", "year"), ("getmonth", "month"), ("dayofmonth", "day"),
        ]))
        return (
            f"{f[0]}(o_orderdate)",
            f"CAST({f[1]}(o_orderdate) AS INT)",
        )
    if kind == 4:
        return (
            'format_datetime(o_orderdate, "yyyy-MM-dd")',
            "strftime(o_orderdate, '%Y-%m-%d')",
        )
    if kind == 5:
        d = draw(st.integers(1, 28))
        return (
            f"o_orderdate + {d}d - {d}d == o_orderdate",
            "true",
        )
    n = draw(st.integers(0, 11))
    return (
        f"monthofyear(datetime_add(\"month\", {n}, o_orderdate))",
        f"CAST(month(o_orderdate + INTERVAL ({n}) MONTH) AS INT)",
    )


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(exprs=st.lists(datetime_exprs(), min_size=1, max_size=3))
def test_random_datetime_functions_match_duckdb(run_kql, duck, exprs):
    kql_proj = ", ".join(f"v{i} = {k}" for i, (k, _) in enumerate(exprs))
    sql_proj = ", ".join(f"{s} AS v{i}" for i, (_, s) in enumerate(exprs))
    kdf = run_kql(f"orders | project o_orderkey, {kql_proj}")
    sdf = duck.sql(f"SELECT o_orderkey, {sql_proj} FROM orders")
    got = canonize_rows(
        kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()]
    )
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert got == want


# ------------------------------------------------- dynamic/array functions
# Same contract as the string/datetime domains: generated literal arrays
# (ints only — no float formatting artifacts), engine expression vs DuckDB
# list-function twin, exact string compare on the JSON serialization.


def _arr_lit(vals):
    body = ", ".join(str(v) for v in vals)
    return f"dynamic([{body}])", f"[{body}]"


@st.composite
def array_exprs(draw):
    vals = draw(st.lists(st.integers(-9, 9), min_size=1, max_size=6))
    k_a, s_a = _arr_lit(vals)
    kind = draw(st.integers(0, 8))
    if kind == 0:
        return f"array_length({k_a})", f"CAST(len({s_a}) AS BIGINT)"
    if kind == 1:
        return (
            f"tostring(array_sort_asc({k_a}))",
            f"CAST(to_json(list_sort({s_a})) AS VARCHAR)",
        )
    if kind == 2:
        return (
            f"tostring(array_sort_desc({k_a}))",
            f"CAST(to_json(list_reverse_sort({s_a})) AS VARCHAR)",
        )
    if kind == 3:
        return (
            f"tostring(array_reverse({k_a}))",
            f"CAST(to_json(list_reverse({s_a})) AS VARCHAR)",
        )
    if kind == 4:
        vals2 = draw(st.lists(st.integers(-9, 9), min_size=1, max_size=4))
        k_b, s_b = _arr_lit(vals2)
        return (
            f"tostring(array_concat({k_a}, {k_b}))",
            f"CAST(to_json(list_concat({s_a}, {s_b})) AS VARCHAR)",
        )
    if kind == 5:
        needle = draw(st.integers(-9, 9))
        return (
            f"array_index_of({k_a}, {needle})",
            f"CAST(coalesce(list_position({s_a}, {needle}), 0) - 1 AS BIGINT)",
        )
    if kind == 6:
        # non-negative inclusive slice
        i = draw(st.integers(0, len(vals) - 1))
        j = draw(st.integers(i, len(vals) - 1))
        return (
            f"tostring(array_slice({k_a}, {i}, {j}))",
            f"CAST(to_json(({s_a})[{i + 1}:{j + 1}]) AS VARCHAR)",
        )
    if kind == 7:
        vals2 = draw(st.lists(st.integers(-9, 9), min_size=1, max_size=4))
        k_b, s_b = _arr_lit(vals2)
        return (
            f"tostring(set_union({k_a}, {k_b}))",
            "CAST(to_json(list_sort(list_distinct("
            f"list_concat({s_a}, {s_b})))) AS VARCHAR)",
        )
    vals2 = draw(st.lists(st.integers(-9, 9), min_size=1, max_size=4))
    k_b, s_b = _arr_lit(vals2)
    return (
        f"tostring(set_intersect({k_a}, {k_b}))",
        "CAST(to_json(list_sort(list_distinct("
        f"list_filter({s_a}, x -> list_contains({s_b}, x))))) AS VARCHAR)",
    )


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(exprs=st.lists(array_exprs(), min_size=1, max_size=3))
def test_random_array_functions_match_duckdb(run_kql, duck, exprs):
    kql_proj = ", ".join(f"v{i} = {k}" for i, (k, _) in enumerate(exprs))
    sql_proj = ", ".join(f"{s} AS v{i}" for i, (_, s) in enumerate(exprs))
    kdf = run_kql(f"print {kql_proj}")
    sdf = duck.sql(f"SELECT {sql_proj}")
    got = canonize_rows(
        kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()]
    )
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert got == want


_WIN_CUMSUM_COLS = [("o_custkey", "o_custkey"), ("o_orderkey", "o_orderkey")]


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    desc=st.booleans(),
    off=st.integers(1, 3),
    cum_ix=st.integers(0, len(_WIN_CUMSUM_COLS) - 1),
    lo=st.integers(0, 4000),
)
def test_random_window_functions_match_duckdb(run_kql, duck, desc, off, cum_ix, lo):
    # serialized window functions over a deterministic unique sort key vs
    # DuckDB window SQL: row_number / prev / next / row_cumsum
    dr = "desc" if desc else "asc"
    cum_k, cum_s = _WIN_CUMSUM_COLS[cum_ix]
    kdf = run_kql(
        f"orders | where o_orderkey >= {lo} | sort by o_orderkey {dr}"
        f" | extend rn = row_number(), p = prev(o_custkey, {off}),"
        f" nx = next(o_custkey, {off}), cs = row_cumsum({cum_k})"
        " | project o_orderkey, rn, p, nx, cs"
    )
    sdf = duck.sql(
        f"""SELECT o_orderkey,
                   CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
                   LAG(o_custkey, {off}) OVER w AS p,
                   LEAD(o_custkey, {off}) OVER w AS nx,
                   CAST(SUM({cum_s}) OVER (w ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cs
            FROM orders WHERE o_orderkey >= {lo}
            WINDOW w AS (ORDER BY o_orderkey {'DESC' if desc else 'ASC'})"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert got == want


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(desc=st.booleans(), lo=st.integers(0, 1200))
def test_random_rank_functions_match_duckdb(run_kql, duck, desc, lo):
    # rank over a NON-unique sort column (o_custkey): min-rank and dense-rank
    # tie semantics vs DuckDB RANK/DENSE_RANK; tie-broken total order on both
    # sides keeps row pairing deterministic
    dr = "desc" if desc else "asc"
    kdf = run_kql(
        f"orders | where o_custkey >= {lo}"
        f" | sort by o_custkey {dr}, o_orderkey asc"
        " | extend rmin = row_rank_min(o_custkey), rden = row_rank_dense(o_custkey)"
        " | project o_orderkey, rmin, rden"
    )
    sdf = duck.sql(
        f"""SELECT o_orderkey,
                   CAST(RANK() OVER w AS BIGINT) AS rmin,
                   CAST(DENSE_RANK() OVER w AS BIGINT) AS rden
            FROM orders WHERE o_custkey >= {lo}
            WINDOW w AS (ORDER BY o_custkey {'DESC' if desc else 'ASC'})"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert got == want


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_random_fragments_raise_only_typed_errors(run_kql, data):
    # error hygiene: near-KQL token soup must either translate or raise a
    # typed KqlError — never RecursionError / AttributeError / Py4J leaks
    from kql_engine_spark.errors import KqlError

    frag = [
        "region", "| where", "| project", "r_name", "==", "'x'", "summarize",
        "count()", "by", "|", "(", ")", "[", "]", ",", "extend", "=", "+",
        "join", "on", "datatable", "take", "5", "let", ";", "sort by", "asc",
        "mv-expand", "x", ".", "dynamic", "series_abs", "bin(", "{", "}",
        '"q"', "*", "evaluate", "pivot", "0.5", "datetime(2024-01-01)",
        "and", "or", "!", "scan", "top-nested", "parse", "between",
    ]
    n = data.draw(st.integers(1, 12))
    q = " ".join(data.draw(st.sampled_from(frag)) for _ in range(n))
    try:
        run_kql(q)
    except KqlError:
        pass


def test_deep_nesting_raises_typed_error(run_kql):
    import sys

    import pytest as _pytest

    from kql_engine_spark.errors import KqlSyntaxError

    # hypothesis may have raised the process recursion limit; pin a sane one
    # so the depth below reliably exceeds it
    old = sys.getrecursionlimit()
    sys.setrecursionlimit(1500)
    try:
        with _pytest.raises(KqlSyntaxError):
            run_kql("print x = " + "(" * 2000 + "1" + ")" * 2000)
        with _pytest.raises(KqlSyntaxError):
            run_kql("print x = " + "1 + " * 4000 + "1")
    finally:
        sys.setrecursionlimit(old)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    p=st.integers(1, 99),
    lo=st.integers(0, 4000),
    key_ix=st.integers(0, 2),
)
def test_random_percentiles_match_duckdb(run_kql, duck, p, lo, key_ix):
    # exact-mode percentile (linear interpolation = quantile_cont) across
    # random cut points, filters and grouping keys
    key_k, key_s = _KEYS[key_ix]
    kdf = run_kql(
        f"lineitem | where l_orderkey >= {lo}"
        f" | summarize v = round(percentile(l_extendedprice, {p}), 4) by {key_k}"
    )
    sdf = duck.sql(
        f"""SELECT {key_s},
                   ROUND(quantile_cont(l_extendedprice, {p / 100.0}), 4) AS v
            FROM lineitem WHERE l_orderkey >= {lo} GROUP BY 1"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert_rows_close(got, want, tol=0.0011)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    step_h=st.sampled_from([6, 12, 24]),
    lo=st.integers(0, 20),
    agg_ix=st.integers(0, 2),
)
def test_random_make_series_matches_duckdb(run_kql, duck, step_h, lo, agg_ix):
    # make-series over random step sizes / filters / aggregates vs a
    # generate_series + left-join twin; arrays compared element-wise
    aggs = [
        ("count()", "COUNT(v.value)", "0"),
        ("sum(value)", "ROUND(SUM(v.value), 4)", "0.0"),
        ("max(value)", "MAX(v.value)", "NULL"),
    ]
    kagg, sagg, sdefault = aggs[agg_ix]
    kdefault = {"0": "0", "0.0": "0.0", "NULL": "real(null)"}[sdefault]
    kdf = run_kql(
        f"events | where user_id >= {lo}"
        f" | make-series y = {kagg} default={kdefault} on ts"
        f" from datetime(2024-01-01) to datetime(2024-01-11) step {step_h}h"
        " | project n = array_length(y),"
        # ignore_nonfinite=true: the SQL twin's AVG skips the null cells the
        # max() aggregate leaves behind (default=real(null)); Kusto's
        # default-false mode would null the whole result instead
        "   s = round(todouble(series_stats_dynamic(y, true).avg), 2)"
    )
    sdf = duck.sql(
        f"""WITH grid AS (
          SELECT generate_series AS t FROM generate_series(
            TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-11' - INTERVAL {step_h} HOUR,
            INTERVAL {step_h} HOUR)
        ), v AS (
          SELECT time_bucket(INTERVAL {step_h} HOUR, CAST(ts AS TIMESTAMP),
                             TIMESTAMP '2024-01-01') AS t, value
          FROM events WHERE user_id >= {lo}
            AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-11'
        ), cells AS (
          SELECT grid.t, COALESCE({sagg}, {sdefault}) AS y
          FROM grid LEFT JOIN v ON v.t = grid.t GROUP BY grid.t
        )
        SELECT CAST(COUNT(*) AS INT) AS n, ROUND(AVG(y), 2) AS s FROM cells"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert_rows_close(got, want, tol=0.011)


# -------------------------------------- conditional-aggregate differential

_COND_AGGS = [
    ("countif", "c = countif({p_k})",
     "CAST(COUNT(*) FILTER (WHERE {p_s}) AS BIGINT) AS c"),
    ("sumif", "s = sumif(l_quantity, {p_k})",
     "SUM(l_quantity) FILTER (WHERE {p_s}) AS s"),
    ("minif", "mn = minif(l_extendedprice, {p_k})",
     "MIN(l_extendedprice) FILTER (WHERE {p_s}) AS mn"),
    ("maxif", "mx = maxif(l_extendedprice, {p_k})",
     "MAX(l_extendedprice) FILTER (WHERE {p_s}) AS mx"),
    ("dcountif", "d = count_distinctif(l_orderkey, {p_k})",
     "CAST(COUNT(DISTINCT l_orderkey) FILTER (WHERE {p_s}) AS BIGINT) AS d"),
]


@settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    pred=predicates(),
    agg_ix=st.sets(st.integers(0, len(_COND_AGGS) - 1), min_size=1, max_size=3),
    key_ix=st.integers(0, len(_KEYS) - 1),
)
def test_random_conditional_aggregates_match_duckdb(run_kql, duck, pred, agg_ix, key_ix):
    # sumif/countif/minif/maxif/count_distinctif with a random inner
    # predicate — the FILTER clause is DuckDB's exact twin
    kql_pred, sql_pred = pred
    key_k, key_s = _KEYS[key_ix]
    aggs = [_COND_AGGS[i] for i in sorted(agg_ix)]
    kql_aggs = ", ".join(a.format(p_k=kql_pred) for _, a, _ in aggs)
    sql_aggs = ", ".join(s.format(p_s=sql_pred) for _, _, s in aggs)
    kdf = run_kql(f"lineitem | summarize {kql_aggs} by {key_k}")
    sdf = duck.sql(f"SELECT {key_s}, {sql_aggs} FROM lineitem GROUP BY 1")
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert got == want


# ------------------------------------------ sort null-ordering differential


@settings(
    max_examples=16,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    desc=st.booleans(),
    nulls_first=st.booleans(),
    null_line=st.integers(1, 7),
    n=st.integers(1, 40),
)
def test_random_sort_nulls_take_matches_duckdb(run_kql, duck, desc, nulls_first, null_line, n):
    # synthesized nulls + explicit nulls first/last + unique tiebreak ->
    # the taken prefix must match DuckDB's ORDER BY ... LIMIT exactly, in
    # order (serialized semantics)
    kdir = "desc" if desc else "asc"
    sdir = "DESC" if desc else "ASC"
    knulls = "nulls first" if nulls_first else "nulls last"
    snulls = "NULLS FIRST" if nulls_first else "NULLS LAST"
    kdf = run_kql(
        f"lineitem | extend k = iff(l_linenumber == {null_line}, real(null), l_discount)"
        f" | sort by k {kdir} {knulls}, l_orderkey asc, l_linenumber asc"
        f" | take {n} | project l_orderkey, l_linenumber, k"
    )
    sdf = duck.sql(
        f"""SELECT l_orderkey, l_linenumber,
                   CASE WHEN l_linenumber = {null_line} THEN NULL
                        ELSE l_discount END AS k
            FROM lineitem
            ORDER BY k {sdir} {snulls}, l_orderkey, l_linenumber LIMIT {n}"""
    )
    got = [(r.l_orderkey, r.l_linenumber, r.k) for r in kdf.collect()]
    want = [tuple(r) for r in sdf.fetchall()]
    assert got == want


# ------------------------------------------------- arg_max differential


@settings(
    max_examples=16,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lo=st.integers(0, 4000),
    use_min=st.booleans(),
    key_ix=st.integers(0, len(_KEYS) - 1),
)
def test_random_arg_max_matches_duckdb(run_kql, duck, lo, use_min, key_ix):
    # the fixture's (orderkey, linenumber) pairs are NOT unique, so arg_max
    # ties are legitimately nondeterministic — assert the maximized value
    # exactly, and that the companion payload is one DuckDB considers valid
    # for that extremal key
    key_k, key_s = _KEYS[key_ix]
    kfn = "arg_min" if use_min else "arg_max"
    sext = "MIN" if use_min else "MAX"
    rows = run_kql(
        f"lineitem | where l_orderkey >= {lo}"
        f" | extend u = l_orderkey * 8 + l_linenumber"
        f" | summarize best = {kfn}(u, l_extendedprice) by {key_k}"
        f" | project {key_k}, best, price = l_extendedprice"
    ).collect()
    want_best = dict(
        duck.sql(
            f"""SELECT {key_s}, {sext}(l_orderkey * 8 + l_linenumber)
                FROM lineitem WHERE l_orderkey >= {lo} GROUP BY 1"""
        ).fetchall()
    )
    valid = {}
    for k, u, p in duck.sql(
        f"""SELECT {key_s}, l_orderkey * 8 + l_linenumber, l_extendedprice
            FROM lineitem WHERE l_orderkey >= {lo}"""
    ).fetchall():
        valid.setdefault((k, u), set()).add(p)
    assert len(rows) == len(want_best)
    for r in rows:
        assert r.best == want_best[r[key_k]]
        assert r.price in valid[(r[key_k], r.best)]


# ---------------------------------------------------- scan differential fuzz
# Independent simulator of the public scan matching model (multiple
# concurrent sequences, at most one per step; per record, steps evaluate
# last-to-first: promotion from k-1 [discarding any occupant of k,
# completing+discarding on the final step], else extension at k, else at
# step 1 a restart under the declared defaults). Any divergence from the
# engine's walker is a bug in one of the two.


def _scan_reference(rows, step_letters):
    n = len(step_letters)
    slots = [None] * n
    next_id = 0
    out = []
    for ts, ev, v in rows:
        emitted = False
        for k in range(n - 1, -1, -1):
            if k >= 1 and slots[k - 1] is not None and ev == step_letters[k]:
                seq = slots[k - 1]
                slots[k - 1] = None
                seq["acc"] += v
                if k == n - 1:
                    slots[k] = None  # complete -> discard
                else:
                    slots[k] = seq
                out.append((ts, ev, v, seq["acc"], seq["id"]))
                emitted = True
                break
            if slots[k] is not None and ev == step_letters[k]:
                seq = slots[k]
                seq["acc"] += v
                out.append((ts, ev, v, seq["acc"], seq["id"]))
                emitted = True
                break
            if k == 0 and ev == step_letters[0]:
                seq = {"acc": 0, "id": next_id}
                next_id += 1
                seq["acc"] += v
                slots[0] = seq
                out.append((ts, ev, v, seq["acc"], seq["id"]))
                emitted = True
                break
        del emitted
    return out


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    evs=st.lists(
        st.tuples(st.sampled_from("abc"), st.integers(0, 9)),
        min_size=1, max_size=22,
    ),
    steps=st.lists(st.sampled_from("abc"), min_size=2, max_size=3),
)
def test_random_scan_matches_reference_model(run_kql, evs, steps):
    rows = [(i, ev, v) for i, (ev, v) in enumerate(evs)]
    lits = ", ".join(f"{t}, '{e}', {v}" for t, e, v in rows)
    step_clauses = "".join(
        f" step s{k + 1}: ev == '{c}' => acc = acc + v;"
        for k, c in enumerate(steps)
    )
    got = run_kql(
        f"datatable(ts:long, ev:string, v:long)[{lits}]"
        " | sort by ts asc"
        f" | scan with_match_id = m declare (acc:long = 0) with ({step_clauses})"
    ).collect()
    want = _scan_reference(rows, steps)
    assert [(r.ts, r.ev, r.v, r.acc, r.m) for r in got] == want


# --------------------------------------- right-semi/anti join differential

@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    anti=st.booleans(),
    cust_lo=st.integers(0, 1200),
    prio=st.sampled_from(["1-URGENT", "2-HIGH", "3-MEDIUM"]),
)
def test_random_right_semi_anti_join_matches_duckdb(run_kql, duck, anti, cust_lo, prio):
    # rightsemi/rightanti keep RIGHT-side rows/columns; the twin swaps the
    # operand order of DuckDB's SEMI/ANTI join
    kind = "rightanti" if anti else "rightsemi"
    skind = "ANTI JOIN" if anti else "SEMI JOIN"
    kql_q = (
        f"customer | where c_custkey >= {cust_lo}"
        f" | join kind={kind} (orders | where o_orderpriority == '{prio}')"
        " on $left.c_custkey == $right.o_custkey"
        " | summarize n = count(), s = sum(o_custkey), d = count_distinct(o_orderkey)"
    )
    sql_q = (
        "SELECT COUNT(*) AS n, SUM(o_custkey) AS s,"
        " CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS d FROM"
        f" (SELECT * FROM orders WHERE o_orderpriority = '{prio}') o"
        f" {skind}"
        f" (SELECT * FROM customer WHERE c_custkey >= {cust_lo}) c"
        " ON o.o_custkey = c.c_custkey"
    )
    got = run_kql(kql_q).collect()[0]
    want = duck.sql(sql_q).fetchone()
    assert got.n == want[0]
    assert (got.s is None and want[1] is None) or got.s == want[1]
    assert got.d == want[2]


# --------------------------------------------- mv-expand differential fuzz

@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lo=st.integers(0, 400),
    span=st.integers(1, 60),
    with_ix=st.booleans(),
)
def test_random_mv_expand_matches_duckdb(run_kql, duck, lo, span, with_ix):
    # mv-expand of a split() array vs DuckDB's zipped parallel unnest;
    # count/distinct/index-sum are order-insensitive probes
    ix_k = "with_itemindex=ix " if with_ix else ""
    ix_agg = ", si = sum(ix)" if with_ix else ""
    kdf = run_kql(
        f"documents | where doc_id >= {lo} and doc_id < {lo + span}"
        f" | mv-expand {ix_k}w = split(text, ' ')"
        f" | summarize n = count(), d = count_distinct(tostring(w)){ix_agg}"
    )
    ix_sql = ", SUM(ix) AS si" if with_ix else ""
    sdf = duck.sql(
        f"""WITH e AS (
             SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                    unnest(range(len(string_split(text, ' ')))) AS ix
             FROM documents WHERE doc_id >= {lo} AND doc_id < {lo + span})
           SELECT COUNT(*) AS n,
                  CAST(COUNT(DISTINCT w) AS BIGINT) AS d{ix_sql} FROM e"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    if not got and want and want[0][0] == "0":
        want = []  # empty-input global summarize: KQL emits no row
    assert got == want


# -------------------------------------------------- union differential fuzz

@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    inner=st.booleans(),
    mod=st.integers(2, 50),
    extra=st.booleans(),
)
def test_random_union_matches_duckdb(run_kql, duck, inner, mod, extra):
    # union outer pads side-B-only columns with null, inner keeps the common
    # subset (src appears on both sides so the group key survives inner);
    # DuckDB twin: UNION ALL with explicit NULL padding / common cols
    kind = "inner" if inner else "outer"
    extra_k = ", x = s_nationkey" if extra else ""
    kdf = run_kql(
        f"union kind={kind}"
        f" (customer | project k = c_custkey % {mod}, src = 'c'),"
        f" (supplier | project k = s_suppkey % {mod}, src = 's'{extra_k})"
        " | summarize n = count(), dk = count_distinct(k) by src"
        " | sort by src asc"
    )
    sdf = duck.sql(
        f"""WITH u AS (
             SELECT c_custkey % {mod} AS k, 'c' AS src FROM customer
             UNION ALL SELECT s_suppkey % {mod} AS k, 's' AS src FROM supplier)
           SELECT src, COUNT(*) AS n, CAST(COUNT(DISTINCT k) AS BIGINT) AS dk
           FROM u GROUP BY src ORDER BY src"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert got == want


# ------------------------------- geo boolean-op inclusion-exclusion fuzz

@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ax=st.floats(-10, 10, allow_nan=False),
    ay=st.floats(-10, 10, allow_nan=False),
    aw=st.floats(0.5, 4, allow_nan=False),
    ah=st.floats(0.5, 4, allow_nan=False),
    dx=st.floats(-2, 2, allow_nan=False),
    dy=st.floats(-2, 2, allow_nan=False),
)
def test_geo_intersection_union_inclusion_exclusion(run_kql, ax, ay, aw, ah, dx, dy):
    # area(A) + area(B) == area(A u B) + area(A n B) for random rectangles;
    # exercises both Greiner-Hormann traversals (inside + outside arcs) and
    # the containment/disjoint fast paths in one law
    def rect(x, y, w, h):
        return (
            '{"type":"Polygon","coordinates":[[[%f,%f],[%f,%f],[%f,%f],[%f,%f],[%f,%f]]]}'
            % (x, y, x + w, y, x + w, y + h, x, y + h, x, y)
        )

    a = rect(round(ax, 3), round(ay, 3), round(aw, 3), round(ah, 3))
    b = rect(round(ax + dx, 3), round(ay + dy, 3), round(aw, 3), round(ah, 3))
    r = run_kql(
        f"print a = dynamic({a}), b = dynamic({b})"
        " | extend i = geo_intersection_2polygons(a, b),"
        "   u = geo_union_polygons_calculate(a, b)"
        " | project aa = geo_polygon_area(a), ab = geo_polygon_area(b),"
        "   ai = coalesce(geo_polygon_area(i), 0.0),"
        "   au = geo_polygon_area(u), ut = gettype(u)"
    ).collect()[0]
    if r.au is None:
        return  # degenerate (vertex-transversal) configs may return null
    assert abs((r.aa + r.ab) - (r.au + r.ai)) <= 0.002 * (r.aa + r.ab)


# --------------------------- string-predicate family differential fuzz

_TERMS = ["blue", "widget", "cold", "rod", "wid", "lue", "ol", "bolt", "zz"]


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    term=st.sampled_from(_TERMS),
    op_ix=st.integers(0, 5),
    neg=st.booleans(),
)
def test_random_string_predicates_match_duckdb(run_kql, duck, term, op_ix, neg):
    # has/contains/startswith/endswith/hasprefix/hassuffix vs RE2/LIKE
    # twins; KQL terms are alphanumeric runs matched case-insensitively
    ops = [
        ("has", rf"regexp_matches(lower(p_name), '\b{term}\b')"),
        ("contains", f"contains(lower(p_name), '{term}')"),
        ("startswith", f"lower(p_name) LIKE '{term}%'"),
        ("endswith", f"lower(p_name) LIKE '%{term}'"),
        ("hasprefix", rf"regexp_matches(lower(p_name), '\b{term}')"),
        ("hassuffix", rf"regexp_matches(lower(p_name), '{term}\b')"),
    ]
    kop, sql_pred = ops[op_ix]
    kql_pred = f"p_name {'!' if neg else ''}{kop} '{term}'"
    if neg:
        sql_pred = f"NOT ({sql_pred})"
    got = run_kql(
        f"part | where {kql_pred}"
        " | summarize n = count(), d = count_distinct(p_partkey)"
    ).collect()
    want = duck.sql(
        f"SELECT COUNT(*), CAST(COUNT(DISTINCT p_partkey) AS BIGINT)"
        f" FROM part WHERE {sql_pred}"
    ).fetchone()
    if not got:
        assert want[0] == 0  # empty-input global summarize: no row in KQL
    else:
        assert (got[0].n, got[0].d) == (want[0], want[1])


# ------------------------------------ bin-grouped aggregation differential

@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    hours=st.sampled_from([1, 2, 3, 6, 12, 24]),
    lo=st.integers(0, 40),
    use_type=st.booleans(),
)
def test_random_bin_grouping_matches_duckdb(run_kql, duck, hours, lo, use_type):
    by_extra = ", event_type" if use_type else ""
    sel_extra = "event_type, " if use_type else ""
    kdf = run_kql(
        f"events | where user_id >= {lo}"
        f" | summarize c = count(), s = round(sum(value), 2)"
        f"   by b = bin(ts, {hours}h){by_extra}"
        " | sort by b asc" + (", event_type asc" if use_type else "")
    )
    sdf = duck.sql(
        f"""SELECT {sel_extra}time_bucket(INTERVAL {hours} HOUR,
                    CAST(ts AS TIMESTAMP)) AS b,
              COUNT(*) AS c, ROUND(SUM(value), 2) AS s
           FROM events WHERE user_id >= {lo}
           GROUP BY ALL ORDER BY b{', event_type' if use_type else ''}"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert_rows_close(got, want, tol=0.011)


# ----------------------------------- graph-match varlen differential fuzz

@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.sets(
        st.tuples(st.sampled_from("abcde"), st.sampled_from("abcdef")).filter(
            lambda p: p[0] < p[1]  # DAG: walks == simple paths, no cycles
        ),
        min_size=1,
        max_size=10,
    ),
    lo=st.integers(1, 3),
    span=st.integers(0, 2),
    start=st.sampled_from("abc"),
)
def test_random_graph_match_varlen_matches_duckdb(run_kql, duck, edges, lo, span, start):
    hi = lo + span
    elist = sorted(edges)
    kql_rows = ", ".join(f"'{s}', '{d}'" for s, d in elist)
    sql_vals = ", ".join(f"('{s}','{d}')" for s, d in elist)
    got = run_kql(
        f"datatable(src:string, dst:string)[{kql_rows}]"
        " | make-graph src --> dst"
        f" | graph-match (a)-[e*{lo}..{hi}]->(b)"
        f"   where a.node_id == '{start}'"
        "   project t = b.node_id, hops = tolong(array_length(e))"
        " | summarize n = count(), s = sum(hops), d = count_distinct(t)"
    ).collect()
    want = duck.sql(
        f"""WITH RECURSIVE e(src, dst) AS (VALUES {sql_vals}),
             walk(t, hops) AS (
               SELECT dst, 1 FROM e WHERE src = '{start}'
               UNION ALL
               SELECT e.dst, w.hops + 1 FROM walk w JOIN e ON e.src = w.t
               WHERE w.hops < {hi})
           SELECT COUNT(*), SUM(hops), CAST(COUNT(DISTINCT t) AS BIGINT)
           FROM walk WHERE hops >= {lo}"""
    ).fetchone()
    if not got:
        assert want[0] == 0
    else:
        assert (got[0].n, got[0].s, got[0].d) == (want[0], want[1], want[2])


# ------------------------------------------- top-nested differential fuzz

@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n1=st.integers(1, 3),
    n2=st.integers(1, 2),
    agg_sum=st.booleans(),
    lo=st.integers(1, 7),
)
def test_random_top_nested_matches_duckdb(run_kql, duck, n1, n2, agg_sum, lo):
    # two-level top-nested with random fan-outs and aggregate vs the
    # two-CTE window twin; l_linenumber filter varies the input
    kagg, sagg = (
        ("sum(l_quantity)", "SUM(l_quantity)")
        if agg_sum
        else ("count()", "COUNT(*)")
    )
    kdf = run_kql(
        f"lineitem | where l_linenumber <= {lo}"
        f" | top-nested {n1} of l_returnflag by r1 = {kagg},"
        f"   top-nested {n2} of l_linestatus by r2 = {kagg}"
    )
    sdf = duck.sql(
        f"""WITH src AS (SELECT * FROM lineitem WHERE l_linenumber <= {lo}),
           l1 AS (SELECT l_returnflag, {sagg} AS r1 FROM src GROUP BY 1),
           l1t AS (SELECT * FROM l1 ORDER BY r1 DESC, l_returnflag LIMIT {n1}),
           l2 AS (SELECT l_returnflag, l_linestatus, {sagg} AS r2
                  FROM src GROUP BY 1, 2),
           j AS (SELECT l1t.l_returnflag, l1t.r1, l2.l_linestatus, l2.r2,
                        ROW_NUMBER() OVER (PARTITION BY l1t.l_returnflag
                          ORDER BY l2.r2 DESC, l2.l_linestatus) AS rn
                 FROM l1t JOIN l2 ON l1t.l_returnflag = l2.l_returnflag)
           SELECT l_returnflag, r1, l_linestatus, r2 FROM j WHERE rn <= {n2}"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert got == want


# --------------------------------------------- mv-apply differential fuzz

@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    lo=st.integers(0, 400),
    span=st.integers(1, 40),
    thresh=st.integers(2, 8),
)
def test_random_mv_apply_matches_duckdb(run_kql, duck, lo, span, thresh):
    # mv-apply with an inner where+summarize vs the unnest/FILTER twin:
    # per-doc count of tokens longer than a threshold
    kdf = run_kql(
        f"documents | where doc_id >= {lo} and doc_id < {lo + span}"
        " | extend w = split(text, ' ')"
        " | mv-apply w to typeof(string) on ("
        f"    where strlen(w) > {thresh} | summarize lw = count())"
        " | summarize n = count(), s = sum(lw)"
    )
    sdf = duck.sql(
        f"""WITH e AS (
             SELECT doc_id, unnest(string_split(text, ' ')) AS w
             FROM documents WHERE doc_id >= {lo} AND doc_id < {lo + span}),
           per AS (SELECT doc_id,
                      COUNT(*) FILTER (WHERE length(w) > {thresh}) AS lw
                   FROM e GROUP BY doc_id)
           SELECT COUNT(*) AS n, SUM(lw) AS s FROM per"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    if not got and want and want[0][0] == "0":
        want = []
    assert got == want


# --------------------------------------- weighted percentile differential

@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    p=st.sampled_from([25, 50, 75, 90]),
    lo=st.integers(1, 5),
)
def test_random_percentilew_matches_duckdb(run_kql, duck, p, lo):
    # percentilew(v, w, p) == exact percentile over the weight-expanded
    # multiset; the twin expands each row w times via unnest(range(w))
    kdf = run_kql(
        f"lineitem | where l_linenumber >= {lo}"
        f" | summarize pw = percentilew(l_extendedprice, l_linenumber, {p})"
    )
    sdf = duck.sql(
        f"""WITH x AS (SELECT l_extendedprice AS v,
                     unnest(range(l_linenumber)) AS r
              FROM lineitem WHERE l_linenumber >= {lo})
           SELECT quantile_disc(v, {p / 100.0}) AS pw FROM x"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert got == want


# ------------------------------------------------ parse operator round-trip

@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    d1=st.sampled_from(["k=", "key:", "[", "<<"]),
    d2=st.sampled_from([";p=", "|", " -> ", "##"]),
    tail=st.sampled_from(["", "!", " end"]),
    lo=st.integers(1, 6),
)
def test_random_parse_recovers_constructed_fields(run_kql, duck, d1, d2, tail, lo):
    # build strings from columns, parse them back, aggregate the parsed
    # fields; the twin aggregates the ORIGINAL columns — equality proves
    # parse recovered every field exactly
    trail_build = f", '{tail}'" if tail else ""
    trail_parse = f" '{tail}'" if tail else ""
    got = run_kql(
        f"lineitem | where l_linenumber >= {lo}"
        f" | extend s = strcat('{d1}', tostring(l_linenumber), '{d2}',"
        f"    l_returnflag{trail_build})"
        f" | parse s with '{d1}' kv:long '{d2}' pv{trail_parse}"
        " | summarize n = count(), sk = sum(kv) by pv | sort by pv asc"
    )
    sdf = duck.sql(
        f"""SELECT l_returnflag AS pv, COUNT(*) AS n,
              SUM(l_linenumber) AS sk
           FROM lineitem WHERE l_linenumber >= {lo}
           GROUP BY 1 ORDER BY 1"""
    )
    gotr = canonize_rows(got.columns, [[r[c] for c in got.columns] for r in got.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert gotr == want


# ----------------------------------- computed-key summarize differential

@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    mod=st.integers(2, 9),
    use_concat=st.booleans(),
    lo=st.integers(1, 5),
)
def test_random_computed_key_summarize_matches_duckdb(run_kql, duck, mod, use_concat, lo):
    # computed by-keys: arithmetic and strcat expressions as group keys
    if use_concat:
        kkey = "k = strcat(l_returnflag, '-', l_linestatus)"
        skey = "l_returnflag || '-' || l_linestatus AS k"
    else:
        kkey = f"k = l_orderkey % {mod}"
        skey = f"l_orderkey % {mod} AS k"
    kdf = run_kql(
        f"lineitem | where l_linenumber >= {lo}"
        f" | summarize n = count(), q = sum(l_quantity) by {kkey}"
        " | sort by k asc"
    )
    sdf = duck.sql(
        f"""SELECT {skey}, COUNT(*) AS n, SUM(l_quantity) AS q
           FROM lineitem WHERE l_linenumber >= {lo}
           GROUP BY 1 ORDER BY 1"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert got == want


# ------------------------------------------- hopping-window differential

@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    size_h=st.sampled_from([2, 3, 4, 6]),
    hop_h=st.sampled_from([1, 2, 3]),
    lo=st.integers(0, 40),
)
def test_random_hopping_window_matches_duckdb(run_kql, duck, size_h, hop_h, lo):
    # hopping_window(ts, size, hop): each event lands in every window whose
    # [start, start+size) covers it, starts aligned to hop multiples; the
    # twin explodes each row into its ceil(size/hop) covering windows
    if hop_h > size_h:
        hop_h = size_h  # degenerate hop > size: clamp to tumbling
    kdf = run_kql(
        f"events | where user_id >= {lo}"
        f" | summarize c = count(), s = round(sum(value), 2)"
        f"   by w = hopping_window(ts, {size_h}h, {hop_h}h)"
        " | project ws = w.start, c, s | sort by ws asc"
    )
    nwin = -(-size_h // hop_h)
    sdf = duck.sql(
        f"""WITH e AS (
             SELECT CAST(ts AS TIMESTAMP) AS t, value
             FROM events WHERE user_id >= {lo}),
           x AS (
             SELECT time_bucket(INTERVAL {hop_h} HOUR, t)
                      - k * INTERVAL {hop_h} HOUR AS ws, value
             FROM e CROSS JOIN (SELECT unnest(range({nwin})) AS k)
             WHERE time_bucket(INTERVAL {hop_h} HOUR, t)
                     - k * INTERVAL {hop_h} HOUR + INTERVAL {size_h} HOUR > t)
           SELECT ws, COUNT(*) AS c, ROUND(SUM(value), 2) AS s
           FROM x GROUP BY ws ORDER BY ws"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert_rows_close(got, want, tol=0.011)


# ------------------------------------------- session-window differential

@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    gap_m=st.sampled_from([5, 10, 30, 60]),
    et=st.sampled_from(["click", "view", "signup", "purchase"]),
)
def test_random_session_window_matches_duckdb(run_kql, duck, gap_m, et):
    # session_window(ts, gap): sessions split where the time to the
    # previous event >= gap; the twin is the classic islands-and-gaps
    # LAG + running-sum construction
    kdf = run_kql(
        f"events | where event_type == '{et}'"
        f" | summarize c = count() by w = session_window(ts, {gap_m}m)"
        " | project ws = w.start, c | sort by ws asc"
    )
    sdf = duck.sql(
        f"""WITH o AS (SELECT CAST(ts AS TIMESTAMP) AS t FROM events
                  WHERE event_type = '{et}'),
           s AS (SELECT t, CASE WHEN LAG(t) OVER (ORDER BY t) IS NULL
                     OR t - LAG(t) OVER (ORDER BY t) >= INTERVAL {gap_m} MINUTE
                   THEN 1 ELSE 0 END AS brk FROM o),
           g AS (SELECT t, SUM(brk) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING)
                   AS sid FROM s)
           SELECT MIN(t) AS ws, COUNT(*) AS c FROM g GROUP BY sid ORDER BY ws"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert got == want


# ----------------------------------------- series fill differential fuzz

@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    step_h=st.sampled_from([6, 12, 24]),
    lo=st.integers(5, 12),
    backward=st.booleans(),
)
def test_random_series_fill_matches_duckdb(run_kql, duck, step_h, lo, backward):
    # series_fill_forward/backward over a null-bearing series vs SQL's
    # LAST_VALUE(... IGNORE NULLS) window (reversed ordering for backward)
    fn = "series_fill_backward" if backward else "series_fill_forward"
    order = "DESC" if backward else "ASC"
    kdf = run_kql(
        f"events | where user_id >= {lo}"
        " | make-series y = max(value) default=real(null) on ts"
        f"   from datetime(2024-01-01) to datetime(2024-01-11) step {step_h}h"
        f" | project f = {fn}(y)"
        " | mv-expand f to typeof(real)"
        " | summarize s = round(sum(f), 2), nn = count()"
    )
    sdf = duck.sql(
        f"""WITH grid AS (
          SELECT generate_series AS t FROM generate_series(
            TIMESTAMP '2024-01-01',
            TIMESTAMP '2024-01-11' - INTERVAL {step_h} HOUR,
            INTERVAL {step_h} HOUR)
        ), v AS (
          SELECT time_bucket(INTERVAL {step_h} HOUR, CAST(ts AS TIMESTAMP),
                             TIMESTAMP '2024-01-01') AS t, value
          FROM events WHERE user_id >= {lo}
            AND ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-11'
        ), cells AS (
          SELECT grid.t, MAX(v.value) AS y
          FROM grid LEFT JOIN v ON v.t = grid.t GROUP BY grid.t
        ), filled AS (
          SELECT t, LAST_VALUE(y IGNORE NULLS)
                   OVER (ORDER BY t {order} ROWS UNBOUNDED PRECEDING) AS f
          FROM cells)
        SELECT ROUND(SUM(f), 2) AS s, COUNT(*) AS nn FROM filled"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert_rows_close(got, want, tol=0.011)


# ------------------------------------------------- find-operator differential

@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    bal=st.integers(-500, 8000),
    both=st.booleans(),
)
def test_random_find_matches_duckdb(run_kql, duck, bal, both):
    # find in (T1, T2): columns missing from a table are null-padded, so a
    # predicate over either side's columns selects across both tables
    pred = (
        f"c_acctbal > {bal} or s_acctbal > {bal}"
        if both
        else f"c_acctbal > {bal}"
    )
    kdf = run_kql(
        f"find in (customer, supplier) where {pred}"
        " | summarize n = count(),"
        "   s = round(sum(coalesce(column_ifexists('c_acctbal', real(null)),"
        "     column_ifexists('s_acctbal', real(null)))), 2)"
    )
    sql_pred = (
        f"ca > {bal} OR sa > {bal}" if both else f"ca > {bal}"
    )
    sdf = duck.sql(
        f"""WITH u AS (
             SELECT c_acctbal AS ca, NULL AS sa FROM customer
             UNION ALL SELECT NULL, s_acctbal FROM supplier)
           SELECT COUNT(*) AS n, ROUND(SUM(COALESCE(ca, sa)), 2) AS s
           FROM u WHERE {sql_pred}"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    if not got and want and want[0][0] == "0":
        want = []
    assert_rows_close(got, want, tol=0.011)


# ------------------------------------------------------ distinct differential

@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    mod=st.integers(2, 40),
    pred=predicates(),
)
def test_random_distinct_matches_duckdb(run_kql, duck, mod, pred):
    kql_pred, sql_pred = pred
    kdf = run_kql(
        f"lineitem | where {kql_pred}"
        f" | extend k = l_orderkey % {mod}"
        " | distinct k, l_returnflag"
        " | summarize n = count(), s = sum(k), d = count_distinct(l_returnflag)"
    )
    sdf = duck.sql(
        f"""WITH d AS (SELECT DISTINCT l_orderkey % {mod} AS k, l_returnflag
             FROM lineitem WHERE {sql_pred})
           SELECT COUNT(*) AS n, SUM(k) AS s,
                  CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS d FROM d"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [dd[0] for dd in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    if not got and want and want[0][0] == "0":
        want = []
    assert got == want


# --------------------------- behavior-analytics plugin differential fuzz
# (round 6: the r5 twin-type bugs clustered in this family — fuzz the
# window/period parameters, not just the corpus' pinned 1d/7d shapes)

_DAY_TS = "CAST(to_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) * 86400) AS TIMESTAMP)"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(outer_d=st.integers(2, 10), lo=st.integers(0, 400))
def test_random_activity_engagement_matches_duckdb(run_kql, duck, outer_d, lo):
    # rolling inner/outer distinct-activity ratio over a random outer
    # window; spread-join twin
    kdf = run_kql(
        f"events | where user_id >= {lo}"
        f" | evaluate activity_engagement(user_id, ts, 1d, {outer_d}d)"
        " | sort by Timeline asc"
    )
    sdf = duck.sql(
        f"""WITH b AS (SELECT user_id, {_DAY_TS} AS d
             FROM events WHERE user_id >= {lo}),
           inner_c AS (SELECT d, COUNT(DISTINCT user_id) AS i FROM b GROUP BY 1),
           spread AS (SELECT user_id, d + INTERVAL (k) DAY AS d
                      FROM b CROSS JOIN UNNEST(generate_series(0, {outer_d - 1})) AS t(k)),
           outer_c AS (SELECT d, COUNT(DISTINCT user_id) AS o FROM spread GROUP BY 1)
           SELECT inner_c.d AS Timeline,
                  CAST(i AS BIGINT) AS dcount_activities_inner,
                  CAST(o AS BIGINT) AS dcount_activities_outer,
                  ROUND(CAST(i AS DOUBLE) / o, 4) AS activity_ratio
           FROM inner_c JOIN outer_c USING (d) ORDER BY 1"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert_rows_close(got, want, tol=0.00011)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(look_d=st.integers(2, 10), lo=st.integers(0, 400))
def test_random_sliding_window_counts_matches_duckdb(run_kql, duck, look_d, lo):
    kdf = run_kql(
        f"events | where user_id >= {lo}"
        f" | evaluate sliding_window_counts(user_id, ts, {look_d}d, 1d)"
        " | sort by Timeline asc"
    )
    sdf = duck.sql(
        f"""WITH b AS (SELECT user_id, {_DAY_TS} AS d
             FROM events WHERE user_id >= {lo}),
           mx AS (SELECT MAX(d) AS m FROM b),
           spread AS (SELECT user_id, d + INTERVAL (k) DAY AS d
                      FROM b CROSS JOIN UNNEST(generate_series(0, {look_d - 1})) AS t(k))
           SELECT d AS Timeline,
                  CAST(COUNT(*) AS BIGINT) AS "Count",
                  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS "Dcount"
           FROM spread, mx WHERE d <= m GROUP BY 1 ORDER BY 1"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(gap_h=st.integers(1, 36), lo=st.integers(0, 400))
def test_random_session_count_matches_duckdb(run_kql, duck, gap_h, lo):
    # sessions started per day under a random inactivity gap
    kdf = run_kql(
        f"events | where user_id >= {lo}"
        f" | evaluate session_count(user_id, ts, 1d, {gap_h}h)"
        " | sort by Timeline asc"
    )
    sdf = duck.sql(
        f"""WITH g AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t,
                LAG(CAST(ts AS TIMESTAMP)) OVER (
                  PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)) AS prev
              FROM events WHERE user_id >= {lo})
         SELECT CAST(to_timestamp(CAST(floor(epoch(t) / 86400) AS BIGINT) * 86400) AS TIMESTAMP)
                  AS Timeline,
                CAST(COUNT(*) AS BIGINT) AS count_sessions
         FROM g WHERE prev IS NULL OR t - prev > INTERVAL {gap_h} HOUR
         GROUP BY 1 ORDER BY 1"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(look_d=st.integers(2, 8), min_p=st.integers(1, 5), lo=st.integers(0, 400))
def test_random_active_users_count_matches_duckdb(run_kql, duck, look_d, min_p, lo):
    # ids active on >= min_p distinct days within a random trailing window
    kdf = run_kql(
        f"events | where user_id >= {lo}"
        f" | evaluate active_users_count(user_id, ts, {look_d}d, 1d, {min_p})"
        " | sort by Timeline asc"
    )
    sdf = duck.sql(
        f"""WITH pairs AS (SELECT DISTINCT user_id, {_DAY_TS} AS p
             FROM events WHERE user_id >= {lo}),
           spread AS (SELECT user_id, p, p + INTERVAL (k) DAY AS d
                      FROM pairs CROSS JOIN UNNEST(generate_series(0, {look_d - 1})) AS t(k)),
           pu AS (SELECT d, user_id, COUNT(DISTINCT p) AS np FROM spread GROUP BY 1, 2)
         SELECT d AS Timeline, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dcount
         FROM pu WHERE np >= {min_p} GROUP BY 1 ORDER BY 1"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert got == want


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(p=st.sampled_from([25, 50, 75, 90, 99]), nbins=st.integers(2, 8))
def test_random_rolling_percentile_matches_duckdb(run_kql, duck, p, nbins):
    kdf = run_kql(
        f"events | evaluate rolling_percentile(value, {p}, ts, 1d, {nbins})"
        f" | project Timeline, v = round(rolling_{nbins}_percentile_value_{p}, 4)"
        " | sort by Timeline asc"
    )
    sdf = duck.sql(
        f"""WITH b AS (SELECT value, {_DAY_TS} AS d FROM events),
           mx AS (SELECT MAX(d) AS m FROM b),
           spread AS (SELECT value, d + INTERVAL (k) DAY AS d
                      FROM b CROSS JOIN UNNEST(generate_series(0, {nbins - 1})) AS t(k))
           SELECT d AS Timeline,
                  ROUND(quantile_cont(value, {p / 100.0}), 4) AS v
           FROM spread, mx WHERE d <= m GROUP BY 1 ORDER BY 1"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert_rows_close(got, want, tol=0.00011)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    steps=st.lists(
        st.sampled_from(["view", "click", "purchase", "signup", "error"]),
        min_size=2, max_size=4, unique=True,
    ),
    win_d=st.integers(1, 14),
)
def test_random_funnel_completion_matches_duckdb(run_kql, duck, steps, win_d):
    # random step sequences and completion windows; chained-min twin
    period_s = 7 * 86400
    kql_steps = ", ".join(f"'{s}'" for s in steps)
    kdf = run_kql(
        "events | evaluate funnel_sequence_completion(user_id, ts, 7d,"
        f" event_type, {kql_steps}, {win_d}d)"
        " | sort by Timeline asc, Step asc"
    )
    ctes = [
        "e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, event_type FROM events)",
        f"s1 AS (SELECT user_id, MIN(t) AS t1 FROM e WHERE event_type = '{steps[0]}' GROUP BY 1)",
    ]
    for i in range(1, len(steps)):
        prev = f"s{i}"
        ctes.append(
            f"s{i+1} AS (SELECT e.user_id, t1, MIN(t) AS t{i+1}"
            f" FROM e JOIN {prev} USING (user_id)"
            f" WHERE event_type = '{steps[i]}' AND t >= t{i}"
            f" AND t <= t1 + INTERVAL {win_d} DAY GROUP BY 1, 2)"
        )
    unions = [
        f"SELECT t1, {i+1} AS step, '{s}' AS state, user_id FROM s{i+1}"
        for i, s in enumerate(steps)
    ]
    sdf = duck.sql(
        "WITH " + ",\n".join(ctes) + ", u AS (" + " UNION ALL ".join(unions) + ")"
        f" SELECT CAST(to_timestamp(CAST(floor(epoch(t1) / {period_s}) AS BIGINT) * {period_s}) AS TIMESTAMP) AS Timeline,"
        " CAST(step AS BIGINT) AS Step, state AS StateName,"
        " CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dcount"
        " FROM u GROUP BY 1, 2, 3 ORDER BY 1, 2"
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert got == want


@st.composite
def _cidr_tables(draw):
    # random prefix tables over the 10.x and 192.168.x ranges the ip
    # generator below emits; unique cidr strings, mixed prefix lengths
    n = draw(st.integers(1, 5))
    nets = []
    for i in range(n):
        kind = draw(st.integers(0, 2))
        if kind == 0:
            nets.append(("10.0.0.0/8", f"net{i}_ten8"))
        elif kind == 1:
            b = draw(st.integers(0, 3))
            nets.append((f"10.{b}.0.0/16", f"net{i}_ten16_{b}"))
        else:
            b = draw(st.integers(0, 3))
            nets.append((f"192.168.{b}.0/24", f"net{i}_home_{b}"))
    # dedupe by cidr (lookup semantics: one row per cidr)
    seen = {}
    for cidr, name in nets:
        seen.setdefault(cidr, name)
    return list(seen.items())


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(table=_cidr_tables(), lo=st.integers(0, 400))
def test_random_ipv4_lookup_matches_duckdb(run_kql, duck, table, lo):
    # longest-prefix CIDR lookup with a random table; the twin computes
    # [start, end] per cidr and applies the same row_number rule
    rows_k = ", ".join(f"'{c}','{n}'" for c, n in table)
    kdf = run_kql(
        f"let lut = datatable(cidr:string, net:string)[{rows_k}];"
        f" events | where user_id >= {lo}"
        " | extend ip = iff(event_id % 7 == 0,"
        "    strcat('192.168.', tostring(event_id % 4), '.', tostring(event_id % 256)),"
        "    strcat('10.', tostring(user_id % 4), '.0.', tostring(event_id % 256)))"
        " | evaluate ipv4_lookup(lut, ip, cidr)"
        " | summarize c = count() by net | sort by net asc"
    )

    def cidr_range(c):
        ip, pl = c.split("/")
        a, b, cc, d = (int(x) for x in ip.split("."))
        v = a * 16777216 + b * 65536 + cc * 256 + d
        pl = int(pl)
        size = 1 << (32 - pl)
        start = v & ~(size - 1) & 0xFFFFFFFF
        return start, start + size - 1, pl

    vals = ", ".join(
        f"('{c}', '{n}', {cidr_range(c)[0]}, {cidr_range(c)[1]}, {cidr_range(c)[2]})"
        for c, n in table
    )
    sdf = duck.sql(
        f"""WITH lut(cidr, net, s, e, b) AS (VALUES {vals}),
           src AS (SELECT event_id,
               CASE WHEN event_id % 7 = 0
                    THEN '192.168.' || CAST(event_id % 4 AS VARCHAR) || '.'
                         || CAST(event_id % 256 AS VARCHAR)
                    ELSE '10.' || CAST(user_id % 4 AS VARCHAR) || '.0.'
                         || CAST(event_id % 256 AS VARCHAR) END AS ip
              FROM events WHERE user_id >= {lo}),
           ipl AS (SELECT event_id,
               CAST(split_part(ip, '.', 1) AS BIGINT) * 16777216
               + CAST(split_part(ip, '.', 2) AS BIGINT) * 65536
               + CAST(split_part(ip, '.', 3) AS BIGINT) * 256
               + CAST(split_part(ip, '.', 4) AS BIGINT) AS v
              FROM src),
           m AS (SELECT event_id, net,
                   ROW_NUMBER() OVER (PARTITION BY event_id
                                      ORDER BY b DESC, cidr) AS rn
                 FROM ipl JOIN lut ON v BETWEEN s AND e)
           SELECT net, CAST(COUNT(*) AS BIGINT) AS c
           FROM m WHERE rn = 1 GROUP BY net ORDER BY net"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    agg_ix=st.integers(0, 2),
    pins=st.sets(
        st.sampled_from(["view", "click", "purchase", "signup", "error"]),
        min_size=0, max_size=3,
    ),
    lo=st.integers(0, 400),
)
def test_random_pivot_matches_duckdb(run_kql, duck, agg_ix, pins, lo):
    # pivot with random aggregate and (optionally) pinned output columns;
    # the twin uses FILTER-per-value projections. Pinned values absent from
    # the data come back null; unpinned mode discovers values eagerly.
    aggs = [
        ("count()", "COUNT({v})", "CAST({x} AS BIGINT)"),
        ("sum(value)", "SUM(value) FILTER (WHERE {w})", "ROUND({x}, 4)"),
        ("max(value)", "MAX(value) FILTER (WHERE {w})", "ROUND({x}, 4)"),
    ]
    kagg, _, _ = aggs[agg_ix]
    vals = sorted(pins) if pins else ["click", "error", "purchase", "signup", "view"]
    pin_clause = (", " + ", ".join(vals)) if pins else ""
    kdf = run_kql(
        f"events | where user_id >= {lo}"
        " | project user_id = user_id % 7, event_type"
        + (", value" if agg_ix else "")
        + f" | evaluate pivot(event_type, {kagg}{pin_clause})"
        " | sort by user_id asc"
    )
    cols_sql = []
    for v in vals:
        if agg_ix == 0:
            c = f"CAST(COUNT(*) FILTER (WHERE event_type = '{v}') AS BIGINT)"
            # Spark pivot count yields null (not 0) for absent combinations
            c = f"CASE WHEN {c} = 0 THEN NULL ELSE {c} END"
        elif agg_ix == 1:
            c = f"ROUND(SUM(value) FILTER (WHERE event_type = '{v}'), 4)"
        else:
            c = f"ROUND(MAX(value) FILTER (WHERE event_type = '{v}'), 4)"
        cols_sql.append(f'{c} AS "{v}"')
    sdf = duck.sql(
        f"""SELECT user_id % 7 AS user_id, {', '.join(cols_sql)}
           FROM events WHERE user_id >= {lo}
           GROUP BY 1 ORDER BY 1"""
    )
    kcols = kdf.columns
    srows = kdf.collect()
    if agg_ix == 1:
        # round the engine's sum cells for the comparison (twin rounds too)
        import math
        srows = [
            [
                (round(r[c], 4) if isinstance(r[c], float) and not math.isnan(r[c]) else r[c])
                for c in kcols
            ]
            for r in srows
        ]
    else:
        srows = [[r[c] for c in kcols] for r in srows]
    got = canonize_rows(kcols, srows)
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert_rows_close(got, want, tol=0.00011)


@st.composite
def _wkt_geometries(draw):
    def pt():
        return [
            round(draw(st.floats(-179, 179, allow_nan=False)), 4),
            round(draw(st.floats(-89, 89, allow_nan=False)), 4),
        ]

    kind = draw(st.integers(0, 4))
    if kind == 0:
        return {"type": "Point", "coordinates": pt()}
    if kind == 1:
        return {
            "type": "LineString",
            "coordinates": [pt() for _ in range(draw(st.integers(2, 5)))],
        }
    if kind == 2:
        ring = [pt() for _ in range(3)]
        ring.append(ring[0])
        return {"type": "Polygon", "coordinates": [ring]}
    if kind == 3:
        return {
            "type": "MultiPoint",
            "coordinates": [pt() for _ in range(draw(st.integers(1, 4)))],
        }
    return {
        "type": "MultiLineString",
        "coordinates": [
            [pt() for _ in range(2)] for _ in range(draw(st.integers(1, 3)))
        ],
    }


@settings(max_examples=50, deadline=None)
@given(g=_wkt_geometries())
def test_wkt_serialize_parse_roundtrip(g):
    # property: GeoJSON -> WKT -> GeoJSON is the identity
    from kql_engine_spark.functions.scalar import (
        _geojson_obj_to_wkt,
        _wkt_to_geojson_obj,
    )

    wkt = _geojson_obj_to_wkt(g)
    assert wkt is not None
    back = _wkt_to_geojson_obj(wkt)
    assert back == g, (g, wkt, back)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    hint=st.sampled_from(["broadcast", "shuffle"]),
    kind=st.sampled_from(["inner", "leftouter", "leftsemi", "leftanti"]),
    bal=st.integers(-500, 5000),
)
def test_join_hint_plan_independence(run_kql, hint, kind, bal):
    # metamorphic: a join strategy HINT changes the physical plan, never
    # the result — hinted and unhinted runs must agree exactly
    q = (
        "orders | join kind={k}{h} (customer | where c_acctbal > {b})"
        " on $left.o_custkey == $right.c_custkey"
        " | summarize n = count(), s = sum(o_totalprice)"
    )
    base = run_kql(q.format(k=kind, h="", b=bal)).collect()[0]
    hinted = run_kql(
        q.format(k=kind, h=f" hint.strategy={hint}", b=bal)
    ).collect()[0]
    assert (base.n, base.s) == (hinted.n, hinted.s)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(k=st.integers(1, 5), lo=st.integers(0, 400))
def test_random_top_hitters_matches_duckdb(run_kql, duck, k, lo):
    kdf = run_kql(
        f"events | where user_id >= {lo} | top-hitters {k} of event_type"
    )
    sdf = duck.sql(
        f"""SELECT event_type, COUNT(*) AS approximate_count_event_type
           FROM events WHERE user_id >= {lo}
           GROUP BY event_type ORDER BY 2 DESC, event_type LIMIT {k}"""
    )
    # ties at the cut are resolution-order-dependent; compare the COUNTS
    # multiset and that every kept value's count is >= the dropped max
    got = sorted(
        (r.approximate_count_event_type for r in kdf.collect()), reverse=True
    )
    want = sorted((r[1] for r in sdf.fetchall()), reverse=True)
    assert got == want


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(lo=st.integers(0, 400), use_prefix=st.booleans(), mod=st.integers(2, 9))
def test_random_bag_unpack_matches_duckdb(run_kql, duck, lo, use_prefix, mod):
    # bag_unpack over the events props bag (single key `k`, long values)
    # with/without a column prefix, grouped over a random modulus of the
    # unpacked value; the twin extracts by JSON path
    prefix = "p_" if use_prefix else ""
    parg = f", '{prefix}'" if use_prefix else ""
    n_match = duck.sql(
        f"SELECT COUNT(*) FROM events WHERE user_id >= {lo}"
    ).fetchone()[0]
    text = (
        f"events | where user_id >= {lo}"
        f" | evaluate bag_unpack(props{parg})"
        f" | summarize n = count(), s = sum({prefix}k)"
        f"   by g = {prefix}k % {mod}"
        " | sort by g asc"
    )
    if n_match == 0:
        # bag_unpack's schema is DATA-DRIVEN (as in Kusto): an empty input
        # yields no unpacked columns, so the downstream reference is a
        # typed semantic error, not a silent empty result
        import pytest

        from kql_engine_spark.errors import KqlSemanticError

        with pytest.raises(KqlSemanticError):
            run_kql(text)
        return
    kdf = run_kql(text)
    sdf = duck.sql(
        f"""SELECT CAST(json_extract(props, '$.k') AS BIGINT) % {mod} AS g,
              COUNT(*) AS n,
              CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS s
           FROM events WHERE user_id >= {lo}
           GROUP BY 1 ORDER BY 1"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert got == want


# ---------------------------------------------------------------------------
# Round 8 (VERDICT r7 item 6): laws for the segmentation / sequence /
# multi-output-series plugin families, which have no SQL twin. Reference
# models are brute-force Python over the same randomly generated rows.


def _dt_rows(rows):
    cells = ", ".join(
        f'datetime({ts}), "{et}", {uid}' for ts, et, uid in rows
    )
    return (
        f"datatable (ts: datetime, et: string, uid: long) [{cells}]"
    )


@given(
    data=st.lists(
        st.tuples(st.sampled_from("abc"), st.sampled_from(["hi", "lo"])),
        min_size=8,
        max_size=40,
    ),
    thr=st.sampled_from([0.1, 0.25, 0.4]),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_basket_segments_have_exact_support(run_kql, data, thr):
    """basket law: every reported segment's Count equals the exact number
    of rows matching its non-wildcard attributes, Percent is that count
    over the total, and every single attribute value meeting the support
    threshold is reported."""
    cells = ", ".join(f'"{a}", "{b}"' for a, b in data)
    src = f"datatable (x: string, y: string) [{cells}]"
    out = run_kql(f"{src} | evaluate basket({thr})").collect()
    n = len(data)
    for r in out:
        match = [
            1
            for a, b in data
            if (r.x is None or r.x == a) and (r.y is None or r.y == b)
        ]
        assert r.Count == len(match), (r, data)
        assert abs(r.Percent - 100.0 * len(match) / n) < 0.06
    singles = {(r.x, r.y) for r in out if (r.x is None) != (r.y is None)}
    from collections import Counter

    xc = Counter(a for a, _ in data)
    yc = Counter(b for _, b in data)
    for v, c in xc.items():
        if c >= thr * n:
            assert (v, None) in singles, (v, c, out)
    for v, c in yc.items():
        if c >= thr * n:
            assert (None, v) in singles


@given(
    data=st.lists(
        st.tuples(st.sampled_from("abcd"), st.sampled_from(["p", "q", "r"])),
        min_size=6,
        max_size=30,
    ),
    wt=st.sampled_from([0.3, 0.6]),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_autocluster_segments_are_sound(run_kql, data, wt):
    """autocluster law (soundness; the mining itself is heuristic): every
    reported segment's Count/Percent must be the exact frequency of rows
    matching the segment's non-wildcard attributes."""
    cells = ", ".join(f'"{a}", "{b}"' for a, b in data)
    src = f"datatable (x: string, y: string) [{cells}]"
    out = run_kql(f"{src} | evaluate autocluster({wt})").collect()
    n = len(data)
    for r in out:
        match = [
            1
            for a, b in data
            if (r.x is None or r.x == a) and (r.y is None or r.y == b)
        ]
        assert r.Count == len(match), (r, data)
        assert abs(r.Percent - 100.0 * len(match) / n) < 0.06


@given(
    evs=st.lists(
        st.tuples(
            st.integers(0, 72 * 3600),  # seconds offset inside 3 days
            st.sampled_from(["view", "buy"]),
            st.integers(0, 2),
        ),
        min_size=4,
        max_size=24,
        unique_by=lambda t: (t[0], t[2]),
    ),
    step_h=st.sampled_from([6, 24]),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_sequence_detect_matches_exist_law(run_kql, evs, step_h):
    """sequence_detect laws, discipline-agnostic: (a) every reported
    (t1, t2) is a genuine view->buy pair of that user within the step and
    span windows; (b) a user appears in the output IFF some valid pair
    exists for them."""
    import datetime as dtm

    base = dtm.datetime(2024, 3, 1)
    rows = [
        ((base + dtm.timedelta(seconds=s)).strftime("%Y-%m-%d %H:%M:%S"), et, u)
        for s, et, u in evs
    ]
    src = _dt_rows(rows)
    out = run_kql(
        f"{src} | evaluate sequence_detect(ts, {step_h}h, 3d,"
        " et == 'view', et == 'buy', uid)"
    ).collect()
    per_user: dict[int, list] = {}
    for s, et, u in evs:
        per_user.setdefault(u, []).append((s, et))
    window = step_h * 3600
    valid_users = set()
    valid_pairs = set()
    for u, items in per_user.items():
        for s1, e1 in items:
            for s2, e2 in items:
                if e1 == "view" and e2 == "buy" and s1 <= s2 <= s1 + window:
                    valid_users.add(u)
                    valid_pairs.add((u, s1, s2))
    got_users = {r.uid for r in out}
    assert got_users == valid_users, (sorted(valid_pairs), out)
    for r in out:
        s1 = int((r.t1 - base).total_seconds())
        s2 = int((r.t2 - base).total_seconds())
        assert (r.uid, s1, s2) in valid_pairs, (r, sorted(valid_pairs))


@given(
    ys=st.lists(
        st.floats(-1e6, 1e6, allow_nan=False).map(lambda v: round(v, 6)),
        min_size=2,
        max_size=12,
    ),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_series_stats_and_fit_line_match_numpy(run_kql, ys):
    """multi-output series builders law: series_stats tuple outputs match
    numpy on random arrays; series_fit_line slope/intercept match the
    least-squares fit."""
    import numpy as np

    arr = "dynamic([" + ", ".join(repr(v) for v in ys) + "])"
    out = run_kql(
        f"print y = {arr}"
        " | extend (mn, mnidx, mx, mxidx, avg, sd, var) = series_stats(y)"
        " | extend (rsq, sl, variance, rvar, ic) = series_fit_line(y)"
        " | project mn, mnidx, mx, mxidx, avg, var, sl, ic"
    ).collect()[0]
    a = np.array(ys, dtype=float)
    assert out.mn == a.min() and out.mx == a.max()
    assert int(out.mnidx) == int(a.argmin()) and int(out.mxidx) == int(a.argmax())
    assert abs(out.avg - a.mean()) < 1e-6 * max(1.0, abs(a.mean()))
    assert abs(out.var - a.var(ddof=1)) < 1e-5 * max(1.0, a.var(ddof=1))
    slope, intercept = np.polyfit(np.arange(len(a)), a, 1)
    assert abs(out.sl - slope) < 1e-5 * max(1.0, abs(slope))
    assert abs(out.ic - intercept) < 1e-5 * max(1.0, abs(intercept))


@given(
    data=st.lists(
        st.tuples(
            st.sampled_from(["alpha", "beta", "gamma"]),
            st.sampled_from(["red", "blue"]),
            st.booleans(),  # side
        ),
        min_size=8,
        max_size=40,
    ),
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_diffpatterns_text_counts_are_exact(run_kql, data):
    """diffpatterns_text laws (partition discipline, as in Kusto: each
    row is attributed to exactly ONE pattern): (a) per side, the pattern
    counts sum to the side total; (b) no pattern's count exceeds the
    exact number of rows it matches (tokens literal, '*' any token);
    (c) percents are counts over side totals."""
    cells = ", ".join(
        f'"{w1} {w2}", "{"A" if s else "B"}"' for w1, w2, s in data
    )
    src = f"datatable (msg: string, side: string) [{cells}]"
    out = run_kql(
        f"{src} | evaluate diffpatterns_text(msg, side, 'A', 'B')"
    ).collect()
    a_rows = [(w1, w2) for w1, w2, s in data if s]
    b_rows = [(w1, w2) for w1, w2, s in data if not s]

    def matches(pattern, row):
        toks = pattern.split()
        return len(toks) == len(row) and all(
            p == "*" or p == t for p, t in zip(toks, row)
        )

    for r in out:
        ca = sum(1 for row in a_rows if matches(r.Pattern, row))
        cb = sum(1 for row in b_rows if matches(r.Pattern, row))
        assert 0 <= r.Count_of_A <= ca, (r, a_rows)
        assert 0 <= r.Count_of_B <= cb, (r, b_rows)
        assert r.Count_of_A + r.Count_of_B > 0, r
        if a_rows:
            assert abs(r.Percent_of_A - 100.0 * r.Count_of_A / len(a_rows)) < 0.06
        if b_rows:
            assert abs(r.Percent_of_B - 100.0 * r.Count_of_B / len(b_rows)) < 0.06
    assert sum(r.Count_of_A for r in out) == len(a_rows), out
    assert sum(r.Count_of_B for r in out) == len(b_rows), out


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    hx=st.floats(0.5, 2.0),
    hy=st.floats(0.5, 2.0),
    hw=st.floats(0.5, 1.5),
    dx=st.floats(-3.0, 5.0),
    dy=st.floats(-3.0, 5.0),
    bw=st.floats(0.8, 4.0),
)
def test_geo_boolean_inclusion_exclusion_with_holes(run_kql, hx, hy, hw, dx, dy, bw):
    """Round 8: area(A) + area(B) == area(A u B) + area(A n B) where A is
    a 5x5 square with a random rectangular hole and B a random square —
    exercises hole-preserving intersection, hole-filling/hole-creating
    union, the containment fast paths, and MultiPolygon area in one law
    (the old exterior-ring-only booleans could not satisfy it)."""

    def ring(x, y, w, h):
        return "[[%f,%f],[%f,%f],[%f,%f],[%f,%f],[%f,%f]]" % (
            x, y, x + w, y, x + w, y + h, x, y + h, x, y,
        )

    hx, hy = round(hx, 3), round(hy, 3)
    hw = round(min(hw, 4.4 - hx, 4.4 - hy), 3)
    a = ('{"type":"Polygon","coordinates":[%s,%s]}'
         % (ring(0, 0, 5, 5), ring(hx, hy, hw, hw)))
    b = ('{"type":"Polygon","coordinates":[%s]}'
         % ring(round(dx, 3), round(dy, 3), round(bw, 3), round(bw, 3)))
    r = run_kql(
        f"print a = dynamic({a}), b = dynamic({b})"
        " | extend i = geo_intersection_2polygons(a, b),"
        "   u = geo_union_polygons_calculate(a, b)"
        " | project aa = geo_polygon_area(a), ab = geo_polygon_area(b),"
        "   ai = coalesce(geo_polygon_area(i), 0.0),"
        "   au = geo_polygon_area(u)"
    ).collect()[0]
    if r.au is None:
        return  # degenerate (vertex-transversal) configs may return null
    assert abs((r.aa + r.ab) - (r.au + r.ai)) <= 0.002 * (r.aa + r.ab), r


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    x=st.floats(-170.0, 160.0),
    y=st.floats(-80.0, 70.0),
    w=st.floats(0.2, 3.0),
    h=st.floats(0.2, 3.0),
    px=st.floats(0.05, 0.95),
    py=st.floats(0.05, 0.95),
    res=st.sampled_from([3, 4, 5]),
)
def test_geo_polygon_to_h3cells_covering_is_sound(run_kql, x, y, w, h, px, py, res):
    """Covering soundness: any point of the polygon lands in a cell that
    the covering contains (interior fill + boundary wall + padding)."""
    x, y, w, h = round(x, 3), round(y, 3), round(w, 3), round(h, 3)
    qx, qy = round(x + px * w, 4), round(y + py * h, 4)
    poly = (
        '{"type":"Polygon","coordinates":[[[%f,%f],[%f,%f],[%f,%f],[%f,%f],[%f,%f]]]}'
        % (x, y, x + w, y, x + w, y + h, x, y + h, x, y)
    )
    r = run_kql(
        f"print p = dynamic({poly})"
        f" | extend cells = geo_polygon_to_h3cells(p, {res})"
        f" | project n = array_length(cells),"
        f"   covered = set_has_element(cells, geo_point_to_h3cell({qx}, {qy}, {res}))"
    ).collect()[0]
    assert r.n and r.n > 0
    assert r.covered, (poly, qx, qy, res)


# ---------------------------------------------------------------- codecs
# Round 8: property fuzz for the new media kernels. These don't need the
# engine fixtures — the law is encoder/decoder roundtrip exactness over
# randomly shaped payloads from the INDEPENDENT in-test encoders.


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    n=st.integers(64, 900),
    rate=st.sampled_from([8000, 16000, 22050, 44100]),
    kind=st.sampled_from(["verbatim", "fixed2", "lpc2"]),
    stereo=st.sampled_from([None, "left", "right", "mid"]),
    amp=st.integers(1, 32000),
    seed=st.integers(0, 2**31),
)
def test_flac_random_roundtrip_features_exact(n, rate, kind, stereo, amp, seed):
    import numpy as np

    from kql_engine_spark.multimodal import _decode_flac
    from test_multimodal import _expected_features, _flac_bytes

    rng = np.random.default_rng(seed)
    # fixed2/lpc2 write multi-partition residuals that need blocks
    # divisible by 4; pick a block splitting n with a possibly short tail
    if kind != "verbatim":
        n -= n % 4
        block = n
    else:
        block = max(16, n // 3)
    base = np.clip(
        np.cumsum(rng.integers(-amp // 8 - 1, amp // 8 + 2, n)), -32768, 32767
    ).astype(np.int64)
    chans = [list(base)]
    if stereo is not None:
        other = np.clip(base + rng.integers(-100, 101, n), -32768, 32767)
        chans.append(list(other.astype(np.int64)))
    got = _decode_flac(_flac_bytes(rate, chans, block=block, kind=kind, stereo=stereo))
    assert got == _expected_features(rate, chans)


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    nc=st.sampled_from([1, 3]),
    predictor=st.integers(1, 7),
    pt=st.integers(0, 2),
    seed=st.integers(0, 2**31),
)
def test_jpeg_lossless_random_roundtrip_exact(h, w, nc, predictor, pt, seed):
    import numpy as np

    from kql_engine_spark.multimodal import _decode_jpeg
    from test_multimodal import _jpeg_lossless_bytes

    rng = np.random.default_rng(seed)
    shape = (h, w) if nc == 1 else (h, w, nc)
    img = rng.integers(0, 256, shape, dtype=np.int64)
    got = _decode_jpeg(_jpeg_lossless_bytes(img, predictor=predictor, pt=pt))
    assert got is not None and got.shape == (h, w, nc)
    want = (img.reshape(h, w, nc) >> pt) << pt
    assert (got.astype(np.int64) == want).all()


@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    h=st.integers(1, 28),
    w=st.integers(1, 28),
    nc=st.sampled_from([1, 3]),
    dri=st.sampled_from([0, 0, 1, 2, 3]),
    lo=st.integers(0, 3),
    du=st.integers(0, 3),
    kx=st.sampled_from([1, 5, 13, 63]),
    progressive=st.booleans(),
    seed=st.integers(0, 2**31),
)
def test_jpeg_arith_entropy_layer_is_invisible(h, w, nc, dri, lo, du, kx,
                                               progressive, seed):
    # LAW: swapping the entropy coder (Huffman <-> T.81 Annex D
    # arithmetic) must not change a single decoded pixel — both carry the
    # same quantized coefficients. Randomizes dims, restart interval,
    # DAC conditioning (L<=U, Kx), and the progressive SA ladder.
    import numpy as np

    from kql_engine_spark.multimodal import _decode_jpeg
    from test_multimodal import _jpeg_arith_bytes, _jpeg_bytes

    rng = np.random.default_rng(seed)
    shape = (h, w) if nc == 1 else (h, w, nc)
    img = rng.integers(0, 256, shape, dtype=np.uint8)
    cond_dc = (lo, lo + du)
    if progressive:
        payload = _jpeg_arith_bytes(img, cond_dc=cond_dc, cond_ac=kx,
                                    progressive=True)
    else:
        payload = _jpeg_arith_bytes(img, dri=dri, cond_dc=cond_dc, cond_ac=kx)
    got = _decode_jpeg(payload)
    ref = _decode_jpeg(_jpeg_bytes(img))
    assert got is not None and ref is not None
    assert np.array_equal(got, ref)


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    nframes=st.integers(1, 6),
    h=st.integers(4, 16),
    w=st.integers(4, 16),
    scale=st.integers(1, 3),
    rate=st.integers(4, 30),
    codec=st.sampled_from(["dib", "mjpeg"]),
    seed=st.integers(0, 2**31),
)
def test_avi_random_walk_recovers_frames(nframes, h, w, scale, rate, codec, seed):
    import numpy as np

    from kql_engine_spark.multimodal import _avi_frames
    from test_multimodal import _avi_bytes

    rng = np.random.default_rng(seed)
    if codec == "mjpeg":
        # constant-color frames decode exactly through the DCT
        frames = [
            np.full((h, w, 3), rng.integers(0, 256), dtype=np.uint8)
            for _ in range(nframes)
        ]
    else:
        frames = [
            rng.integers(0, 256, (h, w, 3), dtype=np.uint8) for _ in range(nframes)
        ]
    got = _avi_frames(_avi_bytes(frames, codec=codec, fps_scale_rate=(scale, rate)))
    assert got is not None and len(got) == nframes
    for (delay, img), want in zip(got, frames):
        assert abs(delay - scale / rate * 100.0) < 1e-9
        assert (img == want).all()


# ------------------------------------------------- MPEG-audio frame-walk fuzz
# Independent stream builder from the published ISO 11172-3 / 13818-3
# header layout and bitrate/sample-rate tables (same tables, independent
# walk): random VBR streams — per-frame bitrate index AND padding bit,
# every version x layer x rate combination, adversarial payload fill
# (0xFF bytes form fake sync words inside frame bodies), optional ID3v2
# prefix / ID3v1 trailer. The walker must land exactly on every frame
# boundary (duration exact to the sample), and any mid-frame truncation
# must fail closed. Pins the walk discipline the CBR example tests
# (test_multimodal.py::test_mp3_frame_walk_exact_duration) can't.

_MPEG_RATES_LAW = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
                   0: (11025, 12000, 8000)}
_MPEG_KBPS_LAW = {
    (True, 1): (32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448),
    (True, 2): (32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384),
    (True, 3): (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    (False, 1): (32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256),
    (False, 2): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    (False, 3): (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}


def _mpeg_vbr_stream(version, layer, srx, brxs, pads, fill):
    rate = _MPEG_RATES_LAW[version][srx]
    out = bytearray()
    spf = 384 if layer == 1 else (1152 if (version == 3 or layer == 2) else 576)
    for brx, pad in zip(brxs, pads):
        b1 = 0xE0 | (version << 3) | ((4 - layer) << 1) | 1
        b2 = (brx << 4) | (srx << 2) | (pad << 1)
        bps = _MPEG_KBPS_LAW[(version == 3, layer)][brx - 1] * 1000
        if layer == 1:
            ln = (12 * bps // rate + pad) * 4
        else:
            ln = spf // 8 * bps // rate + pad
        out += bytes([0xFF, b1, b2, 0xC0]) + bytes([fill]) * (ln - 4)
    return bytes(out), rate, spf


@settings(max_examples=60, deadline=None)
@given(
    version=st.sampled_from([3, 2, 0]),
    layer=st.sampled_from([1, 2, 3]),
    srx=st.integers(0, 2),
    brxs=st.lists(st.integers(1, 14), min_size=2, max_size=20),
    data=st.data(),
    fill=st.sampled_from([0x00, 0xFF, 0x55]),
    id3v2_extra=st.one_of(st.none(), st.integers(0, 200)),
    id3v1=st.booleans(),
    cut=st.one_of(st.none(), st.integers(1, 3)),
)
def test_mp3_random_vbr_walk_exact(version, layer, srx, brxs, data, fill,
                                   id3v2_extra, id3v1, cut):
    from kql_engine_spark.multimodal import _decode_mp3

    pads = data.draw(st.lists(st.integers(0, 1), min_size=len(brxs),
                              max_size=len(brxs)))
    body, rate, spf = _mpeg_vbr_stream(version, layer, srx, brxs, pads, fill)
    payload = body
    if id3v2_extra is not None:  # syncsafe size, zero-filled tag body
        sz = id3v2_extra
        payload = (b"ID3\x04\x00\x00"
                   + bytes([(sz >> 21) & 0x7F, (sz >> 14) & 0x7F,
                            (sz >> 7) & 0x7F, sz & 0x7F])
                   + bytes(sz) + payload)
    if id3v1:
        payload = payload + b"TAG" + bytes(125)
    if cut is not None:
        # slice 1-3 bytes off the final frame (the shortest legal frame is
        # 24 bytes, so this is never a clean boundary): the walk must fail
        # closed, not report a shorter duration
        assert _decode_mp3(body[: len(body) - cut]) is None
        return
    assert _decode_mp3(payload) == (round(len(brxs) * spf / rate, 6), rate, None)


# ------------------------------------------------------- ISO BMFF walk fuzz
# Independent muxer (test_multimodal._mp4_bytes, written from the box
# grammar) vs the decoder: random frame counts / fps / chunk grouping /
# co64 / version-1 mdhd must recover every frame with exact stts timing;
# random PCM payloads must reproduce RMS exactly through the sample
# tables; and truncation at ANY byte must fail closed out of
# _mp4_frames, never raise.

@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    nframes=st.integers(1, 6),
    h=st.integers(4, 16),
    w=st.integers(4, 16),
    fps=st.integers(1, 30),
    per_chunk=st.integers(1, 7),
    co64=st.booleans(),
    version1=st.booleans(),
    cut=st.floats(0.05, 0.98),
    seed=st.integers(0, 2**31),
)
def test_mp4_random_walk_recovers_frames(nframes, h, w, fps, per_chunk,
                                         co64, version1, cut, seed):
    import numpy as np

    from kql_engine_spark.multimodal import _mp4_frames
    from test_multimodal import _mp4_bytes

    rng = np.random.default_rng(seed)
    frames = [
        np.full((h, w, 3), rng.integers(0, 256), dtype=np.uint8)
        for _ in range(nframes)
    ]
    payload = _mp4_bytes(video_frames=frames, fps=fps, per_chunk=per_chunk,
                         co64=co64, version1=version1)
    got = _mp4_frames(payload)
    assert got is not None and len(got) == nframes
    for (delay, img), want in zip(got, frames):
        # exact stts timing: delta is 100 ticks at timescale fps*100
        assert abs(delay - 100.0 / fps) < 1e-9
        assert (img == want).all()
    # moov trails the file, so any truncation must fail closed, not raise
    assert _mp4_frames(payload[: int(len(payload) * cut)]) is None


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    n=st.integers(16, 1200),
    rate=st.sampled_from([8000, 16000, 22050, 44100]),
    codec=st.sampled_from([b"sowt", b"twos", b"raw "]),
    per_chunk=st.integers(1, 600),
    amp=st.integers(1, 30000),
    seed=st.integers(0, 2**31),
)
def test_mp4_pcm_rms_matches_numpy(n, rate, codec, per_chunk, amp, seed):
    import numpy as np

    from kql_engine_spark.multimodal import _decode_mp4_audio
    from test_multimodal import _mp4_bytes

    rng = np.random.default_rng(seed)
    if codec == b"raw ":
        pcm = rng.integers(0, 256, n).astype(np.uint8)
        want = float(np.sqrt(np.mean(((pcm.astype(np.float64) - 128) / 128) ** 2)))
    else:
        pcm = rng.integers(-amp, amp + 1, n)
        want = float(np.sqrt(np.mean((pcm / 32768.0) ** 2)))
    dur, got_rate, rms = _decode_mp4_audio(
        _mp4_bytes(pcm=pcm, rate=rate, audio_codec=codec, per_chunk=per_chunk)
    )
    assert got_rate == rate
    assert abs(dur - round(n / rate, 6)) < 1e-9
    assert abs(rms - round(want, 6)) < 5e-7


# ---------------------------------------------------------- PNG tier fuzz
# Random (depth, color type, interlace, filter mix, size) against the
# independent spec-written encoder: decoded pixels must equal the exact
# expected transform (identity at 8-bit, high byte at 16, 255/(2^d-1)
# scaling below 8, PLTE mapping for palette) for every legal combination.

@settings(max_examples=40, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    h=st.integers(1, 20),
    w=st.integers(1, 20),
    ctype=st.sampled_from([0, 2, 3, 4, 6]),
    depth_ix=st.integers(0, 4),
    interlace=st.integers(0, 1),
    f0=st.integers(0, 4), f1=st.integers(0, 4), f2=st.integers(0, 4),
    seed=st.integers(0, 2**31),
)
def test_png_random_tiers_roundtrip(h, w, ctype, depth_ix, interlace,
                                    f0, f1, f2, seed):
    import numpy as np

    from kql_engine_spark.multimodal import _decode_png
    from test_multimodal import _png_bytes_ext

    valid = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
             4: (8, 16), 6: (8, 16)}[ctype]
    depth = valid[depth_ix % len(valid)]
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ctype]
    rng = np.random.default_rng(seed)
    pal = None
    if ctype == 3:
        pal = rng.integers(0, 256, (1 << depth, 3), dtype=np.uint8)
        img = rng.integers(0, 1 << depth, (h, w, 1))
        want = pal[img[:, :, 0]]
    elif depth == 16:
        img = rng.integers(0, 65536, (h, w, nch))
        want = (img >> 8).astype(np.uint8)
    elif depth == 8:
        img = rng.integers(0, 256, (h, w, nch))
        want = img.astype(np.uint8)
    else:
        img = rng.integers(0, 1 << depth, (h, w, nch))
        want = (img * (255 // ((1 << depth) - 1))).astype(np.uint8)
    payload = _png_bytes_ext(img, depth, ctype, palette=pal,
                             interlace=interlace, filters=(f0, f1, f2))
    got = _decode_png(payload)
    assert got is not None and got.shape == want.shape
    assert (got == want).all()


# -------------------------- graph-mark-components strong differential fuzz

@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.sets(
        st.tuples(st.integers(1, 6), st.integers(1, 6)).filter(
            lambda p: p[0] != p[1]  # self-loops don't change SCC structure
        ),
        min_size=1,
        max_size=12,
    ),
)
def test_random_scc_matches_duckdb_mutual_closure(run_kql, duck, edges):
    # round 9: kind=strong vs first-principles SCC — comp(n) =
    # min{m : n reaches m AND m reaches n} over a transitive closure
    elist = sorted(edges)
    kql_rows = ", ".join(f"{s}, {d}" for s, d in elist)
    sql_vals = ", ".join(f"({s},{d})" for s, d in elist)
    got = run_kql(
        f"datatable(src:long, dst:long)[{kql_rows}]"
        " | make-graph src --> dst"
        " | graph-mark-components kind=strong with_component_id=comp"
        " | sort by node_id asc"
    ).collect()
    want = duck.sql(
        f"""WITH RECURSIVE e(s, d) AS (VALUES {sql_vals}),
             nodes AS (SELECT DISTINCT n FROM (SELECT s AS n FROM e
                                               UNION SELECT d FROM e)),
             reach(n, m) AS (
               SELECT n, n FROM nodes
               UNION
               SELECT r.n, e.d FROM reach r JOIN e ON e.s = r.m)
           SELECT a.n, MIN(a.m)
           FROM reach a JOIN reach b ON a.n = b.m AND a.m = b.n
           GROUP BY a.n ORDER BY a.n"""
    ).fetchall()
    assert [(r.node_id, r.comp) for r in got] == [(int(n), int(c)) for n, c in want]


# --------------------------- activity cohort-dims consistency (round 9)

def test_activity_cohort_dims_partition_consistency(run_kql):
    # a constant dim column must reproduce the dimension-less result
    # with the dim appended — cohort streams over one combination
    # degenerate to the global stream
    base = run_kql(
        "events | evaluate new_activity_metrics(user_id, ts, 1d)"
        " | sort by Timeline asc"
    ).collect()
    dimmed = run_kql(
        "events | extend k = 'all'"
        " | evaluate new_activity_metrics(user_id, ts, 1d, k)"
        " | sort by Timeline asc"
    ).collect()
    assert len(base) == len(dimmed)
    for b, d in zip(base, dimmed):
        assert d.k == "all"
        assert (b.Timeline, b.dcount_values, b.dcount_new_values,
                b.dcount_retained_values) == (
            d.Timeline, d.dcount_values, d.dcount_new_values,
            d.dcount_retained_values)


# ------------------- graph components: long chains (round 10, no cliff)

def _path_edges_kql(n, reverse_ids=False):
    # path 1 -> 2 -> ... -> n (or with ids reversed so the min sits at
    # the far end — the worst case for min-propagation algorithms)
    ids = list(range(1, n + 1))
    if reverse_ids:
        ids = ids[::-1]
    return ", ".join(f"{a}, {b}" for a, b in zip(ids, ids[1:]))


def test_scc_long_path_each_node_singleton(run_kql):
    # 120-node directed path: no cycles, every node is its own SCC.
    # Exceeds the old 64-round propagation bound — exercises the round-10
    # local Tarjan path (and previously would have been silently wrong).
    rows = _path_edges_kql(120, reverse_ids=True)
    got = run_kql(
        f"datatable(src:long, dst:long)[{rows}]"
        " | make-graph src --> dst"
        " | graph-mark-components kind=strong with_component_id=comp"
        " | sort by node_id asc"
    ).collect()
    assert len(got) == 120
    assert all(r.comp == r.node_id for r in got)


def test_scc_long_cycle_single_component(run_kql):
    # 150-node directed cycle: one SCC, comp = min id everywhere
    n = 150
    rows = ", ".join(f"{i}, {i % n + 1}" for i in range(1, n + 1))
    got = run_kql(
        f"datatable(src:long, dst:long)[{rows}]"
        " | make-graph src --> dst"
        " | graph-mark-components kind=strong with_component_id=comp"
        " | sort by node_id asc"
    ).collect()
    assert len(got) == n
    assert all(r.comp == 1 for r in got)


def test_weak_components_long_path_one_component(run_kql):
    # 130-node path with ids reversed (min at the far end): the old
    # 16-round linear propagation under-merged this into >1 component;
    # large-star/small-star converges regardless of diameter
    rows = _path_edges_kql(130, reverse_ids=True)
    got = run_kql(
        f"datatable(src:long, dst:long)[{rows}]"
        " | make-graph src --> dst"
        " | graph-mark-components kind=weak with_component_id=comp"
        " | sort by node_id asc"
    ).collect()
    assert len(got) == 130
    assert all(r.comp == 1 for r in got)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    edges=st.sets(
        st.tuples(st.integers(1, 40), st.integers(1, 40)).filter(
            lambda p: p[0] != p[1]
        ),
        min_size=1,
        max_size=60,
    ),
)
def test_random_weak_components_match_union_find(run_kql, edges):
    # large-star/small-star vs a first-principles union-find reference
    elist = sorted(edges)
    kql_rows = ", ".join(f"{s}, {d}" for s, d in elist)
    got = run_kql(
        f"datatable(src:long, dst:long)[{kql_rows}]"
        " | make-graph src --> dst"
        " | graph-mark-components kind=weak with_component_id=comp"
        " | sort by node_id asc"
    ).collect()
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for s, d in elist:
        rs, rd = find(s), find(d)
        if rs != rd:
            parent[max(rs, rd)] = min(rs, rd)
    want = {n: find(n) for n in {x for e in elist for x in e}}
    assert {r.node_id: r.comp for r in got} == want


def test_scc_distributed_path_matches_local(run_kql, monkeypatch):
    # force the distributed forward/backward peeling (local cap 0) and
    # check it agrees with the Tarjan fast path on a mixed graph:
    # two cycles bridged one-way plus a tail
    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4),
             (6, 7), (7, 8)]
    rows = ", ".join(f"{s}, {d}" for s, d in edges)
    q = (
        f"datatable(src:long, dst:long)[{rows}]"
        " | make-graph src --> dst"
        " | graph-mark-components kind=strong with_component_id=comp"
        " | sort by node_id asc"
    )
    local = [(r.node_id, r.comp) for r in run_kql(q).collect()]
    import kql_engine_spark.translator as TR

    monkeypatch.setattr(TR, "_GRAPH_LOCAL_ELEMS", 0)
    dist = [(r.node_id, r.comp) for r in run_kql(q).collect()]
    assert local == dist == [
        (1, 1), (2, 1), (3, 1), (4, 4), (5, 4), (6, 4), (7, 7), (8, 8)]


def test_weak_components_round_caps_typed_error(run_kql, monkeypatch):
    # a chain longer than both round caps must fail loud with the typed
    # limit error, never return under-merged components
    import pytest

    import kql_engine_spark.extensions.llm as llm
    from kql_engine_spark.errors import KqlLimitError

    monkeypatch.setattr(llm, "_GRAPH_LINEAR_ROUNDS", 1)
    monkeypatch.setattr(llm, "_GRAPH_CC_ROUNDS", 1)
    rows = _path_edges_kql(20, reverse_ids=True)
    with pytest.raises(KqlLimitError, match="did not converge within 1 "):
        run_kql(
            f"datatable(src:long, dst:long)[{rows}]"
            " | make-graph src --> dst"
            " | graph-mark-components kind=weak with_component_id=comp"
            " // weak-round-cap"
        ).collect()


def test_scc_propagation_round_cap_typed_error(run_kql, monkeypatch):
    # on the distributed path (local cap 0) a directed path deeper than
    # the propagation round cap must raise, not peel partial labels
    import pytest

    import kql_engine_spark.translator as TR
    from kql_engine_spark.errors import KqlLimitError

    monkeypatch.setattr(TR, "_GRAPH_LOCAL_ELEMS", 0)
    monkeypatch.setattr(TR, "_GRAPH_PROPAGATION_ROUNDS", 1)
    rows = _path_edges_kql(6)
    with pytest.raises(KqlLimitError, match="did not converge within 1 "):
        run_kql(
            f"datatable(src:long, dst:long)[{rows}]"
            " | make-graph src --> dst"
            " | graph-mark-components kind=strong with_component_id=comp"
            " // scc-round-cap"
        ).collect()


# ----------------- activity metrics cohort-dims differential fuzz (round 10)

_PBIN = "CAST(to_timestamp(CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / {p}) AS BIGINT) * {p}) AS TIMESTAMP)"


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(period_d=st.integers(1, 5), lo=st.integers(0, 400))
def test_random_new_activity_metrics_dims_matches_duckdb(
    run_kql, duck, period_d, lo
):
    # randomized period x id-filter grid for the round-9 cohort-dims path:
    # each event_type is an independent cohort stream (first-seen and
    # retention measured within it)
    p = period_d * 86400
    kdf = run_kql(
        f"events | where user_id >= {lo}"
        f" | evaluate new_activity_metrics(user_id, ts, {period_d}d, event_type)"
        " | sort by Timeline asc, event_type asc"
    )
    b = _PBIN.format(p=p)
    sdf = duck.sql(
        f"""WITH pairs AS (SELECT DISTINCT user_id, event_type, {b} AS d
             FROM events WHERE user_id >= {lo}),
           first AS (SELECT user_id, event_type, MIN(d) AS f
                     FROM pairs GROUP BY 1, 2),
           nxt AS (SELECT user_id, event_type,
                          d - INTERVAL ({period_d}) DAY AS d, 1 AS r
                   FROM pairs)
           SELECT pairs.d AS Timeline, pairs.event_type,
                  CAST(COUNT(DISTINCT pairs.user_id) AS BIGINT) AS dcount_values,
                  CAST(SUM(CASE WHEN pairs.d = first.f THEN 1 ELSE 0 END) AS BIGINT)
                      AS dcount_new_values,
                  CAST(COUNT(nxt.r) AS BIGINT) AS dcount_retained_values,
                  CAST(COUNT(DISTINCT pairs.user_id) - COUNT(nxt.r) AS BIGINT)
                      AS dcount_churn_values,
                  ROUND(CAST(COUNT(nxt.r) AS DOUBLE)
                        / COUNT(DISTINCT pairs.user_id), 4) AS retention_rate,
                  ROUND(CAST(COUNT(DISTINCT pairs.user_id) - COUNT(nxt.r) AS DOUBLE)
                        / COUNT(DISTINCT pairs.user_id), 4) AS churn_rate
           FROM pairs
           JOIN first ON pairs.user_id = first.user_id
                     AND pairs.event_type = first.event_type
           LEFT JOIN nxt ON pairs.user_id = nxt.user_id
                        AND pairs.event_type = nxt.event_type
                        AND pairs.d = nxt.d
           GROUP BY 1, 2 ORDER BY 1, 2"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert_rows_close(got, want, tol=0.00011)


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(period_d=st.integers(1, 5), lo=st.integers(0, 400))
def test_random_activity_metrics_dims_matches_duckdb(run_kql, duck, period_d, lo):
    # window-over-window flavor: retention measured against the PREVIOUS
    # period's actives within the same event_type cohort
    p = period_d * 86400
    kdf = run_kql(
        f"events | where user_id >= {lo}"
        f" | evaluate activity_metrics(user_id, ts, {period_d}d, event_type)"
        " | sort by Timeline asc, event_type asc"
    )
    b = _PBIN.format(p=p)
    sdf = duck.sql(
        f"""WITH pairs AS (SELECT DISTINCT user_id, event_type, {b} AS d
             FROM events WHERE user_id >= {lo}),
           first AS (SELECT user_id, event_type, MIN(d) AS f
                     FROM pairs GROUP BY 1, 2),
           prev AS (SELECT user_id, event_type,
                           d + INTERVAL ({period_d}) DAY AS d, 1 AS r
                    FROM pairs),
           prev_tot AS (SELECT d, event_type,
                               COUNT(DISTINCT user_id) AS pt
                        FROM prev GROUP BY 1, 2)
           SELECT pairs.d AS Timeline, pairs.event_type,
                  CAST(COUNT(DISTINCT pairs.user_id) AS BIGINT) AS dcount_values,
                  CAST(SUM(CASE WHEN pairs.d = first.f THEN 1 ELSE 0 END) AS BIGINT)
                      AS dcount_newvalues,
                  ROUND(CAST(COUNT(prev.r) AS DOUBLE) / ANY_VALUE(prev_tot.pt), 4)
                      AS retention_rate,
                  ROUND(CAST(ANY_VALUE(prev_tot.pt) - COUNT(prev.r) AS DOUBLE)
                        / ANY_VALUE(prev_tot.pt), 4) AS churn_rate
           FROM pairs
           JOIN first ON pairs.user_id = first.user_id
                     AND pairs.event_type = first.event_type
           LEFT JOIN prev ON pairs.user_id = prev.user_id
                         AND pairs.event_type = prev.event_type
                         AND pairs.d = prev.d
           LEFT JOIN prev_tot ON pairs.d = prev_tot.d
                             AND pairs.event_type = prev_tot.event_type
           GROUP BY 1, 2 ORDER BY 1, 2"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    cols = [d[0] for d in sdf.description]
    want = canonize_rows(cols, sdf.fetchall())
    assert_rows_close(got, want, tol=0.00011)


# ------------------- split-distinct rewrite differential fuzz (round 10)

@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    key=st.sampled_from(["l_returnflag", "l_linestatus", "l_suppkey % 7"]),
    dcol=st.sampled_from(["l_orderkey", "l_partkey", "l_linestatus"]),
    dcol2=st.sampled_from(["l_suppkey", "l_shipdate"]),
    lo=st.integers(0, 30),
)
def test_random_split_distinct_matches_fused(run_kql, monkeypatch, key, dcol, dcol2, lo):
    # the scale-path rewrite must be row-for-row identical to Spark's
    # fused single-pass plan across random keys / distinct columns /
    # filters, including two-distinct shapes
    import kql_engine_spark.translator as TR

    q = (
        f"lineitem | where l_quantity > {lo}.0"
        f" | summarize c = count(), d1 = dcount({dcol}), s = sum(l_quantity),"
        f" d2 = dcount({dcol2}) by k = {key}"
        " | sort by k asc"
    )
    monkeypatch.setattr(TR, "_SMALL_QUERY_BYTES", 0)
    split_rows = [tuple(r) for r in run_kql(q).collect()]
    monkeypatch.setattr(TR, "_SPLIT_DISTINCT", False)
    fused_rows = [tuple(r) for r in run_kql(q + " // fused").collect()]
    assert split_rows == fused_rows


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n=st.integers(1, 400),
    strat_ix=st.integers(0, 1),
)
def test_random_take_stratified_matches_duckdb(run_kql, duck, n, strat_ix):
    # round 11: the take_stratified LCG mixer is pure BIGINT arithmetic,
    # so DuckDB must reproduce the EXACT per-stratum sample for any N
    strat = ["event_type", "user_id"][strat_ix]
    kdf = run_kql(
        f"events | evaluate take_stratified({strat}, {n}, event_id)"
        f" | project {strat}, event_id | sort by {strat} asc, event_id asc"
    )
    sdf = duck.sql(
        f"""WITH r AS (
              SELECT {strat}, event_id,
                     ROW_NUMBER() OVER (PARTITION BY {strat}
                       ORDER BY ((event_id % 2147483648) * 1103515245
                                  + 12345) % 2147483648,
                                event_id) AS rn
              FROM events)
            SELECT {strat}, event_id FROM r WHERE rn <= {n}
            ORDER BY {strat}, event_id"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    want = canonize_rows([d[0] for d in sdf.description], sdf.fetchall())
    assert got == want


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    anti=st.booleans(),
    price=st.floats(1000, 300000, allow_nan=False),
    theta_ix=st.integers(0, 3),
)
def test_random_theta_semi_anti_matches_duckdb(run_kql, duck, anti, price, theta_ix):
    # round 11: the q21-adapted port leans on theta conditions inside
    # semi/anti joins (equi key + inequality side condition). Fuzz the
    # lowering against DuckDB's correlated EXISTS/NOT EXISTS.
    kop, sop = [("<", "<"), ("<=", "<="), (">", ">"), ("!=", "<>")][theta_ix]
    kind = "leftanti" if anti else "leftsemi"
    p = round(price, 2)
    kdf = run_kql(
        f"customer | join kind={kind}"
        f" (orders | where o_totalprice > {p!r})"
        " on $left.c_custkey == $right.o_custkey"
        f" and $left.c_acctbal {kop} $right.o_totalprice"
        " | summarize n = count(), s = sum(c_custkey)"
    )
    neg = "NOT " if anti else ""
    sdf = duck.sql(
        f"""SELECT COUNT(*) AS n, CAST(SUM(c_custkey) AS BIGINT) AS s
            FROM customer WHERE {neg}EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_totalprice > {p}
                AND c_acctbal {sop} o_totalprice)"""
    )
    got = canonize_rows(kdf.columns, [[r[c] for c in kdf.columns] for r in kdf.collect()])
    want = canonize_rows([d[0] for d in sdf.description], sdf.fetchall())
    # engine count over zero rows yields n=0/s=NULL on both sides already
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    seed=st.integers(0, 10_000),
    thr=st.sampled_from([0.5, 0.8]),
    ndocs=st.integers(8, 40),
)
def test_minhash_index_equals_session_dedup_random_corpora(
    spark, tmp_path_factory, seed, thr, ndocs
):
    # round 12 law: dedup through a persisted signature index must keep
    # the SAME survivors as the in-session path on ANY corpus (the
    # signature kernel is deterministic) — random word-soup docs with
    # planted exact and near duplicates
    import random

    from kql_engine_spark.translator import kql
    from kql_engine_spark.catalog import Catalog

    rng = random.Random(seed)
    vocab = ["alpha", "bravo", "charlie", "delta", "echo", "fox", "golf"]
    rows = []
    for i in range(ndocs):
        words = [rng.choice(vocab) for _ in range(rng.randint(0, 12))]
        rows.append((i, " ".join(words)))
        if rng.random() < 0.4:  # planted near/exact duplicate
            dup = list(words)
            if dup and rng.random() < 0.5:
                dup[rng.randrange(len(dup))] = rng.choice(vocab)
            rows.append((1000 + i, " ".join(dup)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cat = Catalog(spark)
    cat.register("fuzzdocs", df)
    idx = str(tmp_path_factory.mktemp("mhfuzz") / "idx")
    kql(
        spark,
        f"fuzzdocs | evaluate minhash_index_build(text, doc_id, '{idx}', {thr})",
        catalog=cat,
    ).collect()
    a = sorted(
        r.doc_id
        for r in kql(
            spark,
            f"fuzzdocs | evaluate dedup_near(text, doc_id, {thr}) | project doc_id",
            catalog=cat,
        ).collect()
    )
    b = sorted(
        r.doc_id
        for r in kql(
            spark,
            f"fuzzdocs | evaluate dedup_near(text, doc_id, {thr}, '{idx}')"
            " | project doc_id",
            catalog=cat,
        ).collect()
    )
    assert a == b and len(a) >= 1


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seed=st.integers(0, 10_000), ndocs=st.integers(8, 24))
def test_minhash_index_lifecycle_mutate_stale_rebuild(
    spark, tmp_path_factory, seed, ndocs
):
    # round 13 lifecycle law: corpus mutation -> typed staleness error ->
    # rebuild -> index-served results identical to in-session, on ANY
    # random corpus (the r12 laws covered build+serve and a single
    # mutation; the rebuild cycle was untested)
    import random

    import pytest

    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.errors import KqlSemanticError
    from kql_engine_spark.translator import kql

    rng = random.Random(seed)
    vocab = ["alpha", "bravo", "charlie", "delta", "echo", "fox", "golf"]
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 10))))
        for i in range(ndocs)
    ]
    cat = Catalog(spark)
    cat.register("lcdocs", spark.createDataFrame(rows, "doc_id long, text string"))
    idx = str(tmp_path_factory.mktemp("mhlc") / "idx")
    kql(
        spark,
        f"lcdocs | evaluate minhash_index_build(text, doc_id, '{idx}', 0.8)",
        catalog=cat,
    ).collect()
    # mutate: drop one row (count diff) OR shift ids (checksum diff)
    if rng.random() < 0.5:
        mut = rows[1:]
    else:
        mut = [(i + 1, t) for i, t in rows]
    cat.register("lcdocs", spark.createDataFrame(mut, "doc_id long, text string"))
    with pytest.raises(KqlSemanticError, match="rebuild"):
        kql(
            spark,
            f"lcdocs | evaluate dedup_near(text, doc_id, 0.8, '{idx}')",
            catalog=cat,
        ).collect()
    # rebuild over the mutated corpus -> identical to in-session
    kql(
        spark,
        f"lcdocs | evaluate minhash_index_build(text, doc_id, '{idx}', 0.8)",
        catalog=cat,
    ).collect()
    a = sorted(
        r.doc_id
        for r in kql(
            spark,
            "lcdocs | evaluate dedup_near(text, doc_id, 0.8) | project doc_id",
            catalog=cat,
        ).collect()
    )
    b = sorted(
        r.doc_id
        for r in kql(
            spark,
            f"lcdocs | evaluate dedup_near(text, doc_id, 0.8, '{idx}')"
            " | project doc_id",
            catalog=cat,
        ).collect()
    )
    assert a == b and len(a) >= 1


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seed=st.integers(0, 10_000), nvec=st.integers(10, 24))
def test_ann_index_lifecycle_mutate_stale_rebuild(
    spark, tmp_path_factory, seed, nvec
):
    # round 13 lifecycle law (ann twin of the minhash law above): full
    # probe + full rerank through the REBUILT index must equal brute-force
    # cosine top-k on the mutated corpus
    import random

    import pytest

    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.errors import KqlSemanticError
    from kql_engine_spark.translator import kql

    rng = random.Random(seed)
    dim, nlist, m = 8, 2, 2

    def mkrows(n, base=0):
        return [
            (base + i, [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(n)
        ]

    rows = mkrows(nvec)
    qv = "[" + ",".join(str(rng.uniform(-1, 1)) for _ in range(dim)) + "]"
    cat = Catalog(spark)
    cat.register("lcvecs", spark.createDataFrame(rows, "vec_id long, e array<double>"))
    idx = str(tmp_path_factory.mktemp("annlc") / "idx")
    kql(
        spark,
        f"lcvecs | evaluate ann_index_build(e, vec_id, '{idx}', {nlist}, {m})",
        catalog=cat,
    ).collect()
    mut = rows[1:] if rng.random() < 0.5 else [(i + 1, v) for i, v in rows]
    cat.register("lcvecs", spark.createDataFrame(mut, "vec_id long, e array<double>"))
    served = (
        f"lcvecs | evaluate similarity_search_ivfpq(e, vec_id, dynamic({qv}),"
        f" 5, {nlist}, {nlist}, {m}, {len(mut)}, '{idx}') | project vec_id"
    )
    with pytest.raises(KqlSemanticError, match="rebuild"):
        kql(spark, served, catalog=cat).collect()
    kql(
        spark,
        f"lcvecs | evaluate ann_index_build(e, vec_id, '{idx}', {nlist}, {m})",
        catalog=cat,
    ).collect()
    got = [r.vec_id for r in kql(spark, served, catalog=cat).collect()]
    brute = [
        r.vec_id
        for r in kql(
            spark,
            f"lcvecs | evaluate similarity_search(e, dynamic({qv}), 5)"
            " | project vec_id",
            catalog=cat,
        ).collect()
    ]
    assert got == brute


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seed=st.integers(0, 10_000), ndocs=st.integers(10, 30))
def test_minhash_index_update_equals_rebuild(
    spark, tmp_path_factory, seed, ndocs
):
    # round 13 law: growing a file-backed corpus and APPENDING to the
    # signature store must serve results identical to both the in-session
    # path and a full rebuild, on any random corpus (signatures are
    # per-row with no global state, so append == rebuild exactly)
    import random

    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.translator import kql

    rng = random.Random(seed)
    vocab = ["alpha", "bravo", "charlie", "delta", "echo", "fox", "golf"]

    def mk(i):
        return (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 10))))

    cut = rng.randint(3, ndocs - 3)
    rows = [mk(i) for i in range(ndocs)]
    base = tmp_path_factory.mktemp("mhupd")
    corpus, idx, idx2 = str(base / "c"), str(base / "i"), str(base / "i2")
    spark.createDataFrame(rows[:cut], "doc_id long, text string").coalesce(
        1
    ).write.parquet(corpus)
    cat = Catalog(spark)
    cat.register("upddocs", spark.read.parquet(corpus))
    kql(
        spark,
        f"upddocs | evaluate minhash_index_build(text, doc_id, '{idx}', 0.8, 3)",
        catalog=cat,
    ).collect()
    spark.createDataFrame(rows[cut:], "doc_id long, text string").coalesce(
        1
    ).write.mode("append").parquet(corpus)
    cat.register("upddocs", spark.read.parquet(corpus))
    s = kql(
        spark,
        f"upddocs | evaluate minhash_index_update(text, doc_id, '{idx}')",
        catalog=cat,
    ).collect()
    assert s[0].added == ndocs - cut and s[0].rows == ndocs
    kql(
        spark,
        f"upddocs | evaluate minhash_index_build(text, doc_id, '{idx2}', 0.8)",
        catalog=cat,
    ).collect()

    def survivors(suffix):
        return sorted(
            r.doc_id
            for r in kql(
                spark,
                f"upddocs | evaluate dedup_near(text, doc_id, 0.8{suffix})"
                " | project doc_id",
                catalog=cat,
            ).collect()
        )

    in_session = survivors("")
    assert survivors(f", '{idx}'") == in_session
    assert survivors(f", '{idx2}'") == in_session
    assert len(in_session) >= 1
    # the store was built with ngram_n=3, so the SAME updated store must
    # also serve decontaminate identically (the shared-pass contract
    # survives incremental growth)
    decon = (
        "upddocs | evaluate decontaminate(text, doc_id, upddocs, text, 3,"
        " 'flag'{p}) | project doc_id, contaminated, contaminated_ngrams"
        " | sort by doc_id asc"
    )
    a = [tuple(r) for r in kql(spark, decon.format(p=""), catalog=cat).collect()]
    b = [
        tuple(r)
        for r in kql(spark, decon.format(p=f", '{idx}'"), catalog=cat).collect()
    ]
    assert a == b


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seed=st.integers(0, 10_000), nvec=st.integers(12, 24))
def test_ann_index_update_full_probe_equals_brute(
    spark, tmp_path_factory, seed, nvec
):
    # round 13 law: after appending new files to the code store (existing
    # centroids/codebooks, no refit), a full-probe + full-rerank query is
    # still EXACT — cluster assignment only routes rows, the final order
    # comes from true cosine on the corpus
    import random

    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.translator import kql

    rng = random.Random(seed)
    dim, nlist, m = 8, 2, 2
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(nvec)
    ]
    cut = rng.randint(4, nvec - 4)
    qv = "[" + ",".join(str(rng.uniform(-1, 1)) for _ in range(dim)) + "]"
    base = tmp_path_factory.mktemp("annupd")
    corpus, idx = str(base / "c"), str(base / "i")
    spark.createDataFrame(
        rows[:cut], "vec_id long, e array<double>"
    ).coalesce(1).write.parquet(corpus)
    cat = Catalog(spark)
    cat.register("updvecs", spark.read.parquet(corpus))
    kql(
        spark,
        f"updvecs | evaluate ann_index_build(e, vec_id, '{idx}', {nlist}, {m})",
        catalog=cat,
    ).collect()
    spark.createDataFrame(
        rows[cut:], "vec_id long, e array<double>"
    ).coalesce(1).write.mode("append").parquet(corpus)
    cat.register("updvecs", spark.read.parquet(corpus))
    s = kql(
        spark,
        f"updvecs | evaluate ann_index_update(e, vec_id, '{idx}')",
        catalog=cat,
    ).collect()
    assert s[0].added == nvec - cut
    got = [
        r.vec_id
        for r in kql(
            spark,
            f"updvecs | evaluate similarity_search_ivfpq(e, vec_id,"
            f" dynamic({qv}), 5, {nlist}, {nlist}, {m}, {nvec}, '{idx}')"
            " | project vec_id",
            catalog=cat,
        ).collect()
    ]
    brute = [
        r.vec_id
        for r in kql(
            spark,
            f"updvecs | evaluate similarity_search(e, dynamic({qv}), 5)"
            " | project vec_id",
            catalog=cat,
        ).collect()
    ]
    assert got == brute


def _token3_shingles(s):
    """The minhash dedup family's unit as string shingles: lowercased
    whitespace tokens, distinct 3-token windows, the whole token list for
    shorter docs (the empty list for null/blank text). The engine hashes
    them — identical up to negligible 64-bit collisions."""
    toks = [t for t in (s or " ").lower().split() if t]
    if len(toks) >= 3:
        return {"\x1f".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
    return {"\x1f".join(toks)}


def _brute_cross_jaccard_survivors(new_rows, ref_rows, thr):
    """Exact token-3-shingle jaccard brute force."""
    refs = [_token3_shingles(t) for _, t in ref_rows]
    out = []
    for i, t in new_rows:
        g = _token3_shingles(t)
        hit = any(
            len(g & r) / len(g | r) >= thr if g | r else True for r in refs
        )
        if not hit:
            out.append(i)
    return sorted(out)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(seed=st.integers(0, 10_000), nref=st.integers(4, 15), nnew=st.integers(4, 15))
def test_dedup_against_equals_brute_force(
    spark, tmp_path_factory, seed, nref, nnew
):
    # round 13 law: cross-corpus near-dedup survivors equal the exact
    # all-pairs jaccard brute force on ANY random corpora with planted
    # cross-duplicates (exact copies and one-word edits of ref docs) —
    # and the index-served form equals the table form
    import random

    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.translator import kql

    rng = random.Random(seed)
    vocab = ["alpha", "bravo", "charlie", "delta", "echo", "fox", "golf", "hotel"]

    def words(k):
        return " ".join(rng.choice(vocab) for _ in range(k))

    ref = [(i, words(rng.randint(0, 10))) for i in range(nref)]
    new = []
    for i in range(nnew):
        r = rng.random()
        if r < 0.3 and ref:  # planted exact cross-dup
            new.append((100 + i, rng.choice(ref)[1]))
        elif r < 0.5 and ref:  # planted near cross-dup (one-word edit)
            toks = rng.choice(ref)[1].split()
            if toks:
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
            new.append((100 + i, " ".join(toks)))
        else:
            new.append((100 + i, words(rng.randint(0, 10))))
    want = _brute_cross_jaccard_survivors(new, ref, 0.8)

    cat = Catalog(spark)
    cat.register("daref", spark.createDataFrame(ref, "rid long, rtext string"))
    cat.register("danew", spark.createDataFrame(new, "doc_id long, text string"))
    got = sorted(
        r.doc_id
        for r in kql(
            spark,
            "danew | evaluate dedup_against(text, doc_id, daref, rtext, 0.8)"
            " | project doc_id",
            catalog=cat,
        ).collect()
    )
    assert got == want
    idx = str(tmp_path_factory.mktemp("da") / "idx")
    kql(
        spark,
        f"daref | evaluate minhash_index_build(rtext, rid, '{idx}', 0.8)",
        catalog=cat,
    ).collect()
    via_idx = sorted(
        r.doc_id
        for r in kql(
            spark,
            f"danew | evaluate dedup_against(text, doc_id, '{idx}', 0.8)"
            " | project doc_id",
            catalog=cat,
        ).collect()
    )
    assert via_idx == want


def _char_grams(s, n):
    """dedup_jaccard's unit as strings: distinct n-character windows of
    the trimmed text, the whole text when it is shorter than n."""
    s = s.strip()
    return {s[i : i + n] for i in range(len(s) - n + 1)} if len(s) >= n else {s}


def _brute_min_id_canonicals(docs, grams_of, thr):
    """Exact all-pairs Jaccard >= thr edges, union-find components, the
    min id of each component — the self-dedup contract, no banding."""
    root = {i: i for i, _ in docs}

    def find(x):
        while root[x] != x:
            root[x] = root[root[x]]
            x = root[x]
        return x

    grams = [(i, grams_of(t)) for i, t in docs]
    for a, (ia, ga) in enumerate(grams):
        for ib, gb in grams[a + 1 :]:
            if len(ga & gb) / len(ga | gb) >= thr:
                ra, rb = find(ia), find(ib)
                root[max(ra, rb)] = min(ra, rb)
    return sorted(i for i, _ in docs if find(i) == i)


@pytest.mark.parametrize(
    "seed,thr,n", [(1, 0.8, 5), (2, 0.6, 5), (3, 0.7, 3), (4, 0.9, 4)]
)
def test_self_dedup_equals_brute_force(spark, seed, thr, n):
    # dedup_near and `dedup_clusters | where is_canonical` keep exactly
    # the min-id canonicals of the exact all-pairs token-3-shingle
    # Jaccard components, and dedup_jaccard those of the char-n-gram
    # components plus every blank doc, on seeded corpora with planted
    # exact copies, case-changed copies and one-word edits
    import random

    from kql_engine_spark.catalog import Catalog
    from kql_engine_spark.translator import kql

    rng = random.Random(seed)
    vocab = [
        "alpha", "bravo", "charlie", "delta", "echo", "fox",
        "golf", "hotel", "india", "juliet", "kilo", "lima",
    ]
    docs = []
    for i in range(40):
        r = rng.random()
        if r < 0.15 and docs:  # planted exact copy
            docs.append((i, rng.choice(docs)[1]))
        elif r < 0.25 and docs:  # case-changed copy: equal only as tokens
            docs.append((i, (rng.choice(docs)[1] or "").upper()))
        elif r < 0.55 and docs:  # planted one-word edit
            toks = (rng.choice(docs)[1] or "").split()
            if toks:
                toks[rng.randrange(len(toks))] = rng.choice(vocab)
            docs.append((i, " ".join(toks)))
        elif r < 0.6:  # blank text: one token-shingle group, kept by jaccard
            docs.append((i, rng.choice([None, "", "  "])))
        else:
            docs.append(
                (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 40))))
            )
    rng.shuffle(docs)
    near_want = _brute_min_id_canonicals(docs, _token3_shingles, thr)
    nonblank = [(i, t) for i, t in docs if (t or "").strip()]
    jac_want = sorted(
        _brute_min_id_canonicals(nonblank, lambda t: _char_grams(t, n), 0.8)
        + [i for i, t in docs if not (t or "").strip()]
    )

    cat = Catalog(spark)
    cat.register("sdd", spark.createDataFrame(docs, "doc_id long, text string"))

    def ids(q):
        return sorted(r.doc_id for r in kql(spark, q, catalog=cat).collect())

    assert ids(f"sdd | evaluate dedup_near(text, doc_id, {thr})") == near_want
    assert ids(
        f"sdd | evaluate dedup_clusters(text, doc_id, {thr})"
        " | where is_canonical"
    ) == near_want
    assert ids(f"sdd | evaluate dedup_jaccard(text, doc_id, 0.8, {n})") == jac_want


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    sizes=st.lists(st.integers(0, 25), min_size=2, max_size=4),
    weights=st.lists(st.integers(1, 5), min_size=4, max_size=4),
    seed=st.integers(0, 2**31 - 1),
    up=st.booleans(),
)
def test_random_mixture_matches_integer_spec(run_kql, sizes, weights, seed, up):
    # round 16: the mixture pair vs a from-scratch pure-Python replica of
    # the published integer contract (quota = min/max_h (n_h*w_g) div w_h;
    # per-group order by the seeded LCG key, ties by id) on random group
    # shapes — including empty target groups (absent-label branches) and
    # even mixes (upsample's stateless fast path).
    labels = [f"g{i}" for i in range(len(sizes))]
    wts = weights[: len(sizes)]
    rows = [
        (gi * 1000 + j, labels[gi])
        for gi, size in enumerate(sizes)
        for j in range(size)
    ]
    lits = ", ".join(f"{i}, '{g}'" for i, g in rows) or "0, 'zz'"
    pairs_kql = ", ".join(f"'{g}', {w}" for g, w in zip(labels, wts))
    op = "upsample_to_mixture" if up else "sample_to_mixture"
    got = run_kql(
        f"datatable(doc_id:long, g:string)[{lits}]"
        f" | evaluate {op}(g, doc_id, {seed}, {pairs_kql})"
    ).collect()

    def lcg(i):
        return ((((i % 2**31) + 2**31) % 2**31 + seed) * 1103515245 + 12345) % 2**31

    counts = {g: s for g, s in zip(labels, sizes)}
    by_group = {
        g: sorted((i for i, gg in rows if gg == g), key=lambda i: (lcg(i), i))
        for g in labels
    }
    if up:
        if any(counts[g] == 0 for g in labels):
            want = []
        else:
            want = []
            for g, wg in zip(labels, wts):
                quota = max((counts[h] * wg) // wh for h, wh in zip(labels, wts))
                base, extra = quota // counts[g], quota % counts[g]
                for rank, i in enumerate(by_group[g], start=1):
                    reps = base + (1 if rank <= extra else 0)
                    want.extend((i, g, r) for r in range(1, reps + 1))
        assert sorted((r.doc_id, r.g, r.rep) for r in got) == sorted(want)
    else:
        want = []
        for g, wg in zip(labels, wts):
            quota = min((counts[h] * wg) // wh for h, wh in zip(labels, wts))
            want.extend((i, g) for i in by_group[g][:quota])
        assert sorted((r.doc_id, r.g) for r in got) == sorted(want)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(
                ["nav", "foo", "bar", " nav ", "", "  ", "baz qux", "\\tnav"]
            ),
            min_size=0,
            max_size=5,
        ),
        min_size=1,
        max_size=8,
    ),
    k=st.integers(2, 4),
)
def test_random_boilerplate_lines_matches_spec(run_kql, docs, k):
    # round 16: boilerplate_lines vs a from-scratch Python replica of the
    # CCNet rule on random corpora — SQL-default space-only trimmed
    # matching (a tab-prefixed line is content, distinct from its bare
    # form), within-doc repeats counting once, blank lines always
    # surviving, empty docs. The datatable lexer keeps '\\t' literal, so
    # the tab sample reaches the engine as an escaped tab character.
    rows = [(i, "\n".join(lines)) for i, lines in enumerate(docs)]
    lits = ", ".join(
        f"{i}, '" + t.replace("\n", "\\n") + "'" for i, t in rows
    )
    got = {
        r.id: (r.text_cleaned, r.lines_removed)
        for r in run_kql(
            f"datatable(id:long, t:string)[{lits}]"
            f" | evaluate boilerplate_lines(t, id, {k})"
        ).collect()
    }
    from collections import defaultdict

    def trim(s):  # SQL TRIM default: ASCII space only, matching both engines
        return s.strip(" ")

    real_rows = [(i, t.replace("\\t", "\t")) for i, t in rows]
    ndocs = defaultdict(set)
    for i, t in real_rows:
        for ln in t.split("\n"):
            if trim(ln):
                ndocs[trim(ln)].add(i)
    boiler = {ln for ln, ids in ndocs.items() if len(ids) >= k}
    for i, t in real_rows:
        kept = [
            ln for ln in t.split("\n") if not trim(ln) or trim(ln) not in boiler
        ]
        removed = len(t.split("\n")) - len(kept)
        assert got[i] == ("\n".join(kept), removed), (i, t, got[i])
