"""Standard KQL `evaluate` plugins: pivot, narrow, bag_unpack (SURVEY.md §2.8)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..ast_nodes import Col, FuncCall
from ..errors import KqlSemanticError, KqlUnsupportedError
from ..functions.aggregates import AGG_REGISTRY
from . import plugin

# cap on data-dependent schema expansion: eager key/value discovery must be
# bounded or it melts at 100 TB (SURVEY.md §4.2 eager-op size guard)
_MAX_EXPAND = 500


@plugin("preview")
def _preview(ptr, df, args):
    """`T | evaluate preview(N)` [KQL]: Kusto returns two tables (an N-row
    sample and a 1-row total Count). Single-DataFrame deviation (same
    convention as `fork`): the N sample rows with a `Count` column carrying
    the total — computed as a broadcast 1-row aggregate cross join, so the
    total never touches the driver."""
    from ..ast_nodes import Lit

    n = 50
    if args:
        if not isinstance(args[0], Lit) or not isinstance(args[0].value, int):
            raise KqlSemanticError("preview(N): N must be an integer literal")
        n = int(args[0].value)
    total = df.agg(F.count(F.lit(1)).alias("Count"))
    return df.limit(n).crossJoin(F.broadcast(total))


@plugin("pivot")
def _pivot(ptr, df, args):
    """`T | evaluate pivot(col [, agg(...)] [, out1, out2, ...])` [KQL].
    Trailing names pin the EXPECTED pivot values: Spark then skips the
    eager distinct scan and the output schema is bounded up front — the
    form to use at scale (unpinned pivot must read the column once to
    discover values)."""
    from ..ast_nodes import Lit

    if not args or not isinstance(args[0], Col):
        raise KqlSemanticError(
            "evaluate pivot(column [, agg(...)] [, out_col...])"
        )
    pivot_col = args[0].name
    rest = [c for c in df.columns if c != pivot_col]
    tail = list(args[1:])
    agg_expr = F.count(F.lit(1))
    if tail and isinstance(tail[0], FuncCall):
        agg_call = tail.pop(0)
        agg_arg_cols = [a.name for a in agg_call.args if isinstance(a, Col)]
        rest = [c for c in rest if c not in agg_arg_cols]
        tr = ptr.expr_tr(df)
        agg_cols = AGG_REGISTRY[agg_call.name](tr, agg_call.args, None)
        agg_expr = agg_cols[0][1]
    values = None
    if tail:
        values = []
        for a in tail:
            if isinstance(a, Col):
                values.append(a.name)
            elif isinstance(a, Lit):
                # numeric/bool pins are valid in Kusto (pivot(code, count(),
                # 200, 404)); Spark matches pinned values by the pivot
                # column's type, so pass the literal through as-is
                values.append(a.value)
            else:
                raise KqlSemanticError(
                    "evaluate pivot: output columns must be names or literals"
                )
    if values is None and df.isStreaming:
        # unpinned pivot needs an eager distinct scan of the pivot column;
        # the PINNED form (explicit output columns) is the streaming path
        raise KqlUnsupportedError(
            "pivot on a streaming source needs pinned output columns "
            "(evaluate pivot(col, agg(...), v1, v2, ...)) — value "
            "discovery requires an eager scan"
        )
    grouped = df.groupBy(*rest)
    pivoted = grouped.pivot(pivot_col, values) if values else grouped.pivot(pivot_col)
    return pivoted.agg(agg_expr)


@plugin("narrow")
def _narrow(ptr, df, args):
    # unpivot all to (Row, Column, Value) [KQL narrow plugin]
    work = df.withColumn("Row", F.monotonically_increasing_id())
    cols = [c for c in df.columns]
    pairs = []
    for c in cols:
        pairs.append(F.lit(c))
        pairs.append(F.col(c).cast("string"))
    stacked = work.select(
        "Row", F.explode(F.create_map(*pairs)).alias("Column", "Value")
    )
    return stacked


# bag_unpack key discovery scans at most this many ROWS (not the whole
# column): schema expansion is data-dependent by nature, but the eager pass
# must stay O(sample), not O(table), at 100 TB. Rows beyond the sample that
# carry unseen keys lose them (documented delta; Kusto scans everything).
_KEY_SAMPLE_ROWS = 100_000

# lazily-built Arrow kernel: JSON bag -> [(key, value-type)] pairs, so the
# discovery collect ships only DISTINCT (key, type) pairs to the driver —
# O(keys x types) bytes regardless of how fat the bags are (round 7; the
# previous implementation collected the raw JSON strings, unbounded in
# bytes). Raw JSON is inspected (not get_json_object output) because
# get_json_object strips string quotes, which would make "123"
# indistinguishable from 123.
_BAG_KEY_TYPES_UDF = None


def _bag_key_types_udf():
    global _BAG_KEY_TYPES_UDF
    if _BAG_KEY_TYPES_UDF is None:
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("array<struct<k:string,t:string>>")
        def key_types(s):
            import json

            import pandas as pd

            out = []
            for raw in s:
                if not raw:
                    out.append(None)
                    continue
                try:
                    obj = json.loads(raw)
                except ValueError:
                    out.append(None)
                    continue
                if not isinstance(obj, dict):
                    out.append(None)
                    continue
                pairs = []
                for k, v in obj.items():
                    if v is None:
                        t = "null"  # registers the key, constrains no type
                    elif isinstance(v, bool):
                        t = "boolean"
                    elif isinstance(v, int):
                        t = "bigint"
                    elif isinstance(v, float):
                        t = "double"
                    elif isinstance(v, str):
                        t = "string"
                    else:  # object/array -> dynamic (JSON-string carrier)
                        t = "dynamic"
                    pairs.append((k, t))
                out.append(pairs)
            return pd.Series(out, dtype="object")

        _BAG_KEY_TYPES_UDF = key_types
    return _BAG_KEY_TYPES_UDF


def _merge_bag_type(prev, t):
    """Kusto-style common-type lattice for sampled bag values: equal types
    stick, long+real widens to real, anything involving dynamic is dynamic,
    any other mix falls back to the string carrier."""
    if t is None:
        return prev
    if prev is None or prev == t:
        return t
    if {prev, t} == {"bigint", "double"}:
        return "double"
    return "dynamic" if "dynamic" in (prev, t) else "string"


@plugin("bag_unpack")
def _bag_unpack(ptr, df, args):
    if not args or not isinstance(args[0], Col):
        raise KqlSemanticError(
            "evaluate bag_unpack(column [, prefix] [, columnsConflict])"
        )
    col_name = args[0].name
    prefix = ""
    conflict = "error"  # Kusto default [KQL bag_unpack]
    if len(args) > 1:
        prefix = ptr.expr_tr(df).const_string(args[1])
    if len(args) > 2:
        conflict = ptr.expr_tr(df).const_string(args[2]).lower()
        if conflict not in ("error", "replace_source", "keep_source"):
            raise KqlSemanticError(
                "bag_unpack: columnsConflict must be 'error', "
                "'replace_source' or 'keep_source'"
            )
    if df.isStreaming:
        # the key/type discovery is an eager bounded collect — impossible
        # on an unbounded stream; Kusto-style typed error instead of the
        # raw "must be executed with writeStream.start()" leak
        raise KqlUnsupportedError(
            "bag_unpack needs a data-dependent schema (eager key sample) "
            "and cannot run on a streaming source; unpack known keys with "
            "extend col = tostring(bag['key']) instead"
        )
    dt = df.schema[col_name].dataType
    ktypes: dict = {}
    if isinstance(dt, T.MapType):
        keys_rows = (
            df.select(F.col(col_name)).limit(_KEY_SAMPLE_ROWS)
            .select(F.explode(F.map_keys(F.col(col_name))).alias("k"))
            .distinct().limit(_MAX_EXPAND).collect()
        )
        keys = sorted(r["k"] for r in keys_rows)
    else:
        # JSON-text carrier: key set AND per-key value types discovered
        # executor-side (Kusto types the unpacked columns by the values'
        # dynamic types). The row sample bounds compute; the driver only
        # ever sees distinct (key, type) pairs — byte-bounded no matter
        # how large the individual bags are. The ordered limit keeps the
        # surviving key set deterministic when a pathological input
        # carries more than _MAX_EXPAND keys (pairs per key <= 7, so the
        # first _MAX_EXPAND keys in sort order are always fully covered).
        pair_rows = (
            df.select(F.col(col_name).cast("string").alias("__kql_bag"))
            .limit(_KEY_SAMPLE_ROWS)
            .select(
                F.explode(_bag_key_types_udf()(F.col("__kql_bag"))).alias("p")
            )
            .select("p.k", "p.t")
            .distinct()
            .orderBy("k", "t")
            .limit(_MAX_EXPAND * 8)
            .collect()
        )
        seen: dict = {}
        for r in pair_rows:
            t = None if r["t"] == "null" else r["t"]
            if len(seen) >= _MAX_EXPAND and r["k"] not in seen:
                continue
            seen[r["k"]] = _merge_bag_type(seen.get(r["k"]), t)
        keys = sorted(seen)
        ktypes = seen
    existing = {c for c in df.columns if c != col_name}
    clash = [k for k in keys if prefix + k in existing]
    if clash and conflict == "error":
        raise KqlSemanticError(
            f"bag_unpack: output column(s) {sorted(prefix + k for k in clash)} "
            "already exist; pass columnsConflict='replace_source' or "
            "'keep_source' [KQL]"
        )
    if conflict == "keep_source":
        keys = [k for k in keys if prefix + k not in existing]
    # type-drift policy (round 8, ADVICE r7): 'error' (default) aborts the
    # query when a value outside the discovery sample does not fit the
    # sampled column type — strict, surfaces corruption loudly even deep
    # into a 100 TB scan. `set bag_unpack_type_drift = 'null';` opts into
    # Kusto's own behavior instead: the non-conforming value becomes a
    # typed null and the scan keeps going (availability over strictness).
    drift_mode = ptr.options.get("bag_unpack_type_drift")
    if drift_mode is not None and not isinstance(drift_mode, str):
        drift_mode = ptr.expr_tr(df).const_string(drift_mode)
    drift_mode = (drift_mode or "error").lower()
    if drift_mode not in ("error", "null"):
        raise KqlSemanticError(
            "bag_unpack_type_drift must be 'error' or 'null', got "
            f"{drift_mode!r}"
        )
    out = df
    if isinstance(dt, T.MapType):
        for k in keys:
            out = out.withColumn(prefix + k, F.element_at(F.col(col_name), k))
    else:
        for k in keys:
            raw = F.get_json_object(F.col(col_name).cast("string"), f"$.{k}")
            t = ktypes.get(k)
            if t in ("bigint", "double", "boolean"):
                casted = raw.cast(t)
                # a value whose type drifts OUTSIDE the sampled rows must
                # fail loudly, not silently corrupt: under non-ANSI Spark a
                # '1.5' under an all-int key TRUNCATES to 1, 'abc'/overflow
                # casts to NULL, and '1' under a bool key casts to true.
                # Per-type drift predicates catch all three; the user can
                # widen with a tostring()/todouble() extend or grow the
                # sample.
                if t == "bigint":
                    drift = casted.isNull() | (
                        casted.cast("double") != raw.cast("double")
                    )
                elif t == "boolean":
                    drift = ~raw.isin("true", "false")
                else:  # double: every numeric string casts; others null out
                    drift = casted.isNull()
                if drift_mode == "null":
                    raw = F.when(
                        raw.isNotNull() & drift, F.lit(None).cast(t)
                    ).otherwise(casted)
                else:
                    raw = F.when(
                        raw.isNotNull() & drift,
                        F.raise_error(
                            F.concat(
                                F.lit("bag_unpack: value '"),
                                raw,
                                F.lit(
                                    f"' under key '{k}' does not fit the "
                                    f"sampled column type {t} (type drift "
                                    "outside the discovery sample); `set "
                                    "bag_unpack_type_drift = 'null';` "
                                    "yields a typed null instead"
                                ),
                            )
                        ),
                    ).otherwise(casted)
            # string/dynamic keep the text carrier (get_json_object yields
            # the unquoted scalar / the raw JSON for objects and arrays)
            out = out.withColumn(prefix + k, raw)
    return out.drop(col_name)


@plugin("python")
def _python_plugin(ptr, df, args):
    """`T | evaluate python(typeof(*, newcol:long), 'code')` [KQL §2.14].

    Contract mirrors Kusto's python plugin: the script sees the input batch
    as pandas DataFrame `df` and must assign pandas DataFrame `result`.
    Lowered to mapInPandas (Arrow-batched — the documented slow path; the
    script runs per batch, never per row).

    Trust model: like Kusto (where the plugin is disabled until a cluster
    admin enables it), executing query-supplied code requires an explicit
    opt-in — KQL_ENGINE_ENABLE_PYTHON_PLUGIN=1 in the environment. Without
    it any query reaching `evaluate python(...)` fails with a typed error
    instead of exec()ing arbitrary code on executors.
    """
    import os

    if os.environ.get("KQL_ENGINE_ENABLE_PYTHON_PLUGIN") != "1":
        raise KqlUnsupportedError(
            "evaluate python(...) executes query-supplied code and is "
            "disabled by default; set KQL_ENGINE_ENABLE_PYTHON_PLUGIN=1 "
            "to opt in (mirrors Kusto's admin-enabled python plugin)"
        )
    from ..semantics import KQL_TO_SPARK

    spec = ptr.expr_tr(df).const_string(args[0])
    code = ptr.expr_tr(df).const_string(args[1])

    fields: list[T.StructField] = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        if part == "*":
            fields.extend(df.schema.fields)
        else:
            cname, _, ctype = part.partition(":")
            fields.append(
                T.StructField(cname.strip(), KQL_TO_SPARK[ctype.strip().lower()], True)
            )
    out_schema = T.StructType(fields)
    compiled = compile(code, "<kql-python-plugin>", "exec")
    out_cols = [f.name for f in fields]

    def runner(batches):
        for pdf in batches:
            ns = {"df": pdf}
            exec(compiled, ns)  # noqa: S102 — user plugin code, per contract
            result = ns.get("result")
            if result is None:
                raise RuntimeError("python plugin script must assign `result`")
            yield result[out_cols]

    return df.mapInPandas(runner, out_schema)


# ------------------------------------------------- basket / autocluster (§2.8)
# Kusto's data-mining plugins. basket = frequent itemsets of (column=value)
# pairs; the published contract is Apriori with a support threshold — here
# lowered to Spark MLlib FPGrowth (the distributed frequent-pattern engine:
# no candidate explosion, two scans, shuffle-partitioned). autocluster's
# exact algorithm is unpublished; the documented intent (few segments
# trading coverage vs specificity via size_weight) is approximated by
# scoring FPGrowth itemsets and greedily keeping non-subsumed segments
# (Tier C, like `reduce by`).


def _segment_frame(ptr, df, itemsets, n_total):
    """FPGrowth itemsets ['col=value', ...] -> Kusto-shaped segment rows:
    SegmentId, Count, Percent, then every source column (null where the
    segment doesn't fix it)."""
    from pyspark.sql.window import Window

    seg = itemsets.withColumn(
        "Percent", F.round(F.col("freq") * 100.0 / F.lit(n_total), 2)
    )
    for c in df.columns:
        pref = c + "="
        seg = seg.withColumn(
            c,
            F.array_max(
                F.transform(
                    F.filter(F.col("items"), lambda it: it.startswith(pref)),
                    lambda it: F.substring(it, len(pref) + 1, 1 << 20),
                )
            ),
        )
    w = Window.orderBy(F.col("freq").desc(), F.col("items").cast("string"))
    return (
        seg.withColumn("SegmentId", F.row_number().over(w) - 1)
        .select(
            "SegmentId",
            F.col("freq").alias("Count"),
            "Percent",
            *[F.col(c) for c in df.columns],
        )
        .orderBy("SegmentId")
    )


def _fp_itemsets(df, min_support: float):
    from pyspark.ml.fpm import FPGrowth

    items = F.array(
        *[
            F.when(
                F.col(c).isNotNull(),
                F.concat(F.lit(c + "="), F.col(c).cast("string")),
            )
            for c in df.columns
        ]
    )
    basket_df = df.select(
        F.array_compact(items).alias("items")
    ).filter(F.size("items") > 0)
    fp = FPGrowth(
        itemsCol="items", minSupport=max(min_support, 1e-9), minConfidence=0.9
    )
    return fp.fit(basket_df).freqItemsets  # (items array, freq)


@plugin("basket")
def _basket(ptr, df, args):
    """`T | evaluate basket([threshold])` [KQL §2.8]: (column=value)
    combinations appearing in >= threshold of rows (default 0.05), one
    segment row each, biggest first. String-cast values; null cells don't
    participate in itemsets (matching the docs)."""
    tr = ptr.expr_tr(df)
    thr = float(tr.const_value(args[0])) if args else 0.05
    n_total = df.count()
    if n_total == 0:
        return _segment_frame(ptr, df, _fp_itemsets(df, thr).limit(0), 1)
    return _segment_frame(ptr, df, _fp_itemsets(df, thr), n_total)


@plugin("autocluster")
def _autocluster(ptr, df, args):
    """`T | evaluate autocluster([size_weight])` [KQL §2.8, Tier C
    approximation — Kusto's algorithm is unpublished]: informative segments
    balancing coverage against specificity. score = Percent^w * (fixed
    attributes / attributes)^(1-w); segments whose itemset is a subset of a
    better-scored pick are dropped (driver-side over the itemset list,
    which is threshold-bounded, not data-bounded)."""
    tr = ptr.expr_tr(df)
    w = float(tr.const_value(args[0])) if args else 0.5
    w = min(max(w, 0.0), 1.0)
    n_total = df.count()
    if n_total == 0:
        return _segment_frame(ptr, df, _fp_itemsets(df, 0.05).limit(0), 1)
    n_cols = max(len(df.columns), 1)
    sets = _fp_itemsets(df, 0.05).collect()  # bounded by support threshold
    scored = sorted(
        (
            (
                (r["freq"] / n_total) ** max(w, 1e-9)
                * (len(r["items"]) / n_cols) ** max(1.0 - w, 1e-9),
                set(r["items"]),
                r,
            )
            for r in sets
        ),
        key=lambda t: (-t[0], sorted(t[1])),
    )
    picked: list = []
    for score, items, row in scored:
        if any(items <= p for _, p, _ in picked) or any(
            p <= items for _, p, _ in picked
        ):
            continue  # subsumed either way by a better-scored segment
        picked.append((score, items, row))
        if len(picked) >= 16:
            break
    spark = df.sparkSession
    from pyspark.sql import types as _T

    schema = _T.StructType(
        [
            _T.StructField("items", _T.ArrayType(_T.StringType()), False),
            _T.StructField("freq", _T.LongType(), False),
        ]
    )
    out = spark.createDataFrame(
        [(sorted(items), row["freq"]) for _, items, row in picked], schema
    )
    return _segment_frame(ptr, df, out, n_total)


# ------------------------------------------------------ sequence_detect (§2.8)
@plugin("sequence_detect")
def _sequence_detect(ptr, df, args):
    """`T | evaluate sequence_detect(timeline, max_step, max_duration,
    pred1, ..., predN, key)` [KQL behavior analytics]: per-key ordered
    sequence search — one OUTPUT ROW per completed sequence with the
    timeline value of each step (columns t1..tN; Kusto names them after
    named arguments, which the engine does not support — documented delta).

    Matching model (documented): per key, rows in timeline order; one
    active partial sequence per key; non-matching rows are skipped (they
    never reset); a row matching the next step must be within `max_step`
    of the previous step and `max_duration` of the first, otherwise the
    sequence restarts from this row if it matches pred1. Completion resets.

    Scale: groupBy(key).applyInPandas — one hash shuffle, per-key local
    walks, no driver-side data path (same shape as the sharded scan)."""
    from ..scan import compile_expr

    if len(args) < 5:
        raise KqlSemanticError(
            "sequence_detect(timeline, max_step, max_duration, "
            "pred1, ..., predN, key) needs at least one predicate"
        )
    timeline = args[0].name if isinstance(args[0], Col) else None
    key = args[-1].name if isinstance(args[-1], Col) else None
    if timeline is None or key is None:
        raise KqlSemanticError(
            "sequence_detect: timeline and key must be column references"
        )
    max_step = compile_expr(args[1], set())({}, {}, {})
    max_dur = compile_expr(args[2], set())({}, {}, {})
    preds = [compile_expr(a, set()) for a in args[3:-1]]
    n = len(preds)

    t_field = next(f for f in df.schema.fields if f.name == timeline)
    k_field = next(f for f in df.schema.fields if f.name == key)
    out_schema = T.StructType(
        [k_field] + [T.StructField(f"t{i + 1}", t_field.dataType, True) for i in range(n)]
    )
    out_cols = [key] + [f"t{i + 1}" for i in range(n)]

    def func(pdf):
        import pandas as pd

        pdf = pdf.sort_values(timeline, kind="mergesort")
        norm = pdf.astype(object).where(pdf.notna(), None)
        out_rows = []
        times: list = []
        for row in norm.to_dict("records"):
            t = row.get(timeline)
            if t is None:
                continue
            # latest-valid-occurrence greedy (round 8): each step binds to
            # its latest in-window occurrence, so a sequence is reported
            # IFF one exists — anchoring on the FIRST pred1 row missed
            # later starts whose window still covered the final step
            # (tests/test_fuzz_differential.py sequence exist-law)
            if (
                times
                and preds[len(times)](row, {}, {}) is True
                and (t - times[-1] <= max_step)
                and (t - times[0] <= max_dur)
            ):
                times.append(t)
            elif (
                len(times) > 1
                and preds[len(times) - 1](row, {}, {}) is True
                and (t - times[-2] <= max_step)
                and (t - times[0] <= max_dur)
            ):
                times[-1] = t  # slide the last matched step later
            elif preds[0](row, {}, {}) is True:
                times = [t]  # (re-)anchor at the latest sequence start
            elif times and preds[len(times)](row, {}, {}) is True:
                times = []  # next step matched but out of window: reset
            if len(times) == n:
                out_rows.append(
                    {key: row.get(key), **{f"t{i + 1}": times[i] for i in range(n)}}
                )
                times = []
        return pd.DataFrame(out_rows, columns=out_cols)

    return df.groupBy(key).applyInPandas(func, out_schema)


# -------------------------------------------------- activity_engagement (§2.8)
@plugin("activity_engagement")
def _activity_engagement(ptr, df, args):
    """`T | evaluate activity_engagement(id, timeline, inner, outer)` [KQL
    behavior analytics]: per inner-window bin, the distinct-id count in that
    bin and in the trailing outer window ending at it (DAU/WAU-style), plus
    their ratio.

    Exact lowering, no sliding self-join: each event's bin contributes to
    the (outer/inner) output bins whose trailing window covers it, via a
    bounded explode (factor = outer/inner, e.g. 7 for DAU/WAU), then one
    count_distinct per side. Scale: the explode factor is a constant;
    both aggregations are hash-partitioned on the bin."""
    from ..translator import ExprTranslator

    tr = ptr.expr_tr(df)
    if len(args) != 4:
        raise KqlSemanticError(
            "activity_engagement(id_col, timeline_col, inner, outer)"
        )
    idc = args[0].name if isinstance(args[0], Col) else None
    tc = args[1].name if isinstance(args[1], Col) else None
    if idc is None or tc is None:
        raise KqlSemanticError("activity_engagement: id and timeline must be columns")
    inner_s = tr.const_seconds(args[2])
    outer_s = tr.const_seconds(args[3])
    if not inner_s or not outer_s or outer_s % inner_s:
        raise KqlSemanticError(
            "activity_engagement: outer window must be a multiple of inner"
        )
    ratio = int(outer_s // inner_s)
    us = int(inner_s * 1_000_000)
    # floor, not cast-truncation: negative epochs must bin DOWN (cast
    # truncates toward zero and would shift pre-1970 rows one bin up)
    binned = F.timestamp_micros(
        (F.floor(F.unix_micros(F.col(tc).cast("timestamp")) / F.lit(us)) * F.lit(us)).cast(
            "bigint"
        )
    )
    work = df.select(F.col(idc).alias("__id"), binned.alias("Timeline"))
    inner_df = work.groupBy("Timeline").agg(
        F.count_distinct("__id").alias("dcount_activities_inner")
    )
    # event bin b is inside the trailing outer window of bins b .. b+ratio-1
    spread = work.select(
        "__id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(ratio - 1)),
                lambda k: F.timestamp_micros(
                    F.unix_micros(F.col("Timeline")) + k.cast("bigint") * F.lit(us)
                ),
            )
        ).alias("Timeline"),
    )
    outer_df = spread.groupBy("Timeline").agg(
        F.count_distinct("__id").alias("dcount_activities_outer")
    )
    out = inner_df.join(outer_df, "Timeline")  # bins with no inner data drop
    return out.select(
        "Timeline",
        "dcount_activities_inner",
        "dcount_activities_outer",
        F.round(
            F.col("dcount_activities_inner").cast("double")
            / F.col("dcount_activities_outer"),
            4,
        ).alias("activity_ratio"),
    )


# -------------------------------------------------- active_users_count (§2.8)
@plugin("active_users_count")
def _active_users_count(ptr, df, args):
    """`T | evaluate active_users_count(id, timeline, lookback, period,
    min_periods)` [KQL behavior analytics, simplified signature — no
    Start/End/dims]: per period bin, the distinct ids active in at least
    `min_periods` DISTINCT periods within the lookback window ending at
    that bin (fans/flirts style engaged-user counting).

    Exact lowering, same shape as activity_engagement: distinct (id,
    period) pairs explode into the (lookback/period) output bins whose
    window covers them, then count distinct periods per (bin, id) and keep
    ids meeting the bar. Bounded explode, two hash-partitioned
    aggregations, no driver-side data."""
    tr = ptr.expr_tr(df)
    if len(args) != 5:
        raise KqlSemanticError(
            "active_users_count(id_col, timeline_col, lookback, period, min_periods)"
        )
    idc = args[0].name if isinstance(args[0], Col) else None
    tc = args[1].name if isinstance(args[1], Col) else None
    if idc is None or tc is None:
        raise KqlSemanticError("active_users_count: id and timeline must be columns")
    look_s = tr.const_seconds(args[2])
    period_s = tr.const_seconds(args[3])
    min_p = int(tr.const_value(args[4]))
    if not look_s or not period_s or look_s % period_s:
        raise KqlSemanticError(
            "active_users_count: lookback must be a multiple of period"
        )
    ratio = int(look_s // period_s)
    us = int(period_s * 1_000_000)
    binned = F.timestamp_micros(
        (F.floor(F.unix_micros(F.col(tc).cast("timestamp")) / F.lit(us)) * F.lit(us)).cast(
            "bigint"
        )
    )
    pairs = (
        df.select(F.col(idc).alias("__id"), binned.alias("__p")).distinct()
    )
    spread = pairs.select(
        "__id",
        "__p",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(ratio - 1)),
                lambda k: F.timestamp_micros(
                    F.unix_micros(F.col("__p")) + k.cast("bigint") * F.lit(us)
                ),
            )
        ).alias("Timeline"),
    )
    per_user = spread.groupBy("Timeline", "__id").agg(
        F.count_distinct("__p").alias("__np")
    )
    return (
        per_user.filter(F.col("__np") >= min_p)
        .groupBy("Timeline")
        .agg(F.count_distinct("__id").alias("dcount"))
    )


# ------------------------------------------------ new_activity_metrics (§2.8)
def _activity_dims(args, start: int, plugin_name: str) -> list[str]:
    """Trailing cohort-dimension column args (round 9 — closes the r5
    'no cohort dims' simplification both activity plugins carried)."""
    dims = []
    for a in args[start:]:
        if not isinstance(a, Col):
            raise KqlSemanticError(
                f"{plugin_name}: cohort dimensions must be column references"
            )
        dims.append(a.name)
    return dims


@plugin("new_activity_metrics")
def _new_activity_metrics(ptr, df, args):
    """`T | evaluate new_activity_metrics(id, timeline, period[, dim1,
    dim2, ...])` [KQL behavior analytics, simplified: consecutive-period
    window]: per period (and per cohort-dimension combination when dims
    are given — round 9) — active ids, first-seen (new) ids, ids retained
    into the NEXT period, ids churned (active now, absent next), and the
    retention/churn rates. With dims, each dimension combination is an
    independent cohort stream: "new" means first appearance of the id
    WITHIN that combination, retention is measured within it too.

    Exact lowering: distinct (id, dims, period) tuples; first activity via
    one groupBy(id, dims) min; retained via one self equi-join on
    (id, dims, period+1). All hash-partitioned joins/aggregations — no
    windows over unbounded frames, no driver-side data."""
    tr = ptr.expr_tr(df)
    if len(args) < 3:
        raise KqlSemanticError(
            "new_activity_metrics(id_col, timeline_col, period[, dims...])"
        )
    idc = args[0].name if isinstance(args[0], Col) else None
    tc = args[1].name if isinstance(args[1], Col) else None
    if idc is None or tc is None:
        raise KqlSemanticError("new_activity_metrics: id and timeline must be columns")
    period_s = tr.const_seconds(args[2])
    if not period_s:
        raise KqlSemanticError("new_activity_metrics: period must be a timespan")
    dims = _activity_dims(args, 3, "new_activity_metrics")
    us = int(period_s * 1_000_000)
    binned = F.timestamp_micros(
        (F.floor(F.unix_micros(F.col(tc).cast("timestamp")) / F.lit(us)) * F.lit(us)).cast(
            "bigint"
        )
    )
    pairs = df.select(
        F.col(idc).alias("__id"), binned.alias("Timeline"), *dims
    ).distinct()
    first = pairs.groupBy("__id", *dims).agg(F.min("Timeline").alias("__first"))
    nxt = pairs.select(
        F.col("__id"),
        F.timestamp_micros(F.unix_micros(F.col("Timeline")) - F.lit(us)).alias(
            "Timeline"
        ),
        *dims,
    )
    enriched = (
        pairs.join(first, ["__id", *dims])
        .withColumn("__is_new", (F.col("Timeline") == F.col("__first")).cast("int"))
        .join(
            nxt.withColumn("__ret", F.lit(1)).alias("n"),
            ["__id", "Timeline", *dims],
            "left",
        )
    )
    out = enriched.groupBy("Timeline", *dims).agg(
        F.count_distinct("__id").alias("dcount_values"),
        F.sum("__is_new").alias("dcount_new_values"),
        F.count(F.col("__ret")).alias("dcount_retained_values"),
    )
    return out.select(
        "Timeline",
        *dims,
        "dcount_values",
        "dcount_new_values",
        "dcount_retained_values",
        (F.col("dcount_values") - F.col("dcount_retained_values")).alias(
            "dcount_churn_values"
        ),
        F.round(
            F.col("dcount_retained_values").cast("double") / F.col("dcount_values"), 4
        ).alias("retention_rate"),
        F.round(
            (F.col("dcount_values") - F.col("dcount_retained_values")).cast("double")
            / F.col("dcount_values"),
            4,
        ).alias("churn_rate"),
    )


# ------------------------------------------------- activity_metrics (§2.8)
@plugin("activity_metrics")
def _activity_metrics(ptr, df, args):
    """`T | evaluate activity_metrics(id, timeline, period[, dim1, dim2,
    ...])` [KQL behavior analytics, simplified: consecutive-period
    window]. Window-over-window flavor (vs the sibling
    new_activity_metrics' cohort flavor): per period — and per
    cohort-dimension combination when dims are given (round 9) — active
    ids, first-seen ids, and retention/churn measured against the
    PREVIOUS period's actives within the same dimension combination:
      retention_rate(w) = |ids(w) ∩ ids(w-1)| / |ids(w-1)|
      churn_rate(w)     = |ids(w-1) \\ ids(w)| / |ids(w-1)|
    First period has no predecessor -> rates are null.

    Exact lowering: distinct (id, dims, period) tuples; first activity via
    one groupBy(id, dims) min; the previous-period intersection via one
    self equi-join on (id, dims, period-1). All hash-partitioned — no
    unbounded windows, no driver-side data."""
    tr = ptr.expr_tr(df)
    if len(args) < 3:
        raise KqlSemanticError(
            "activity_metrics(id_col, timeline_col, period[, dims...])"
        )
    idc = args[0].name if isinstance(args[0], Col) else None
    tc = args[1].name if isinstance(args[1], Col) else None
    if idc is None or tc is None:
        raise KqlSemanticError("activity_metrics: id and timeline must be columns")
    period_s = tr.const_seconds(args[2])
    if not period_s:
        raise KqlSemanticError("activity_metrics: period must be a timespan")
    dims = _activity_dims(args, 3, "activity_metrics")
    us = int(period_s * 1_000_000)
    binned = F.timestamp_micros(
        (
            F.floor(F.unix_micros(F.col(tc).cast("timestamp")) / F.lit(us)) * F.lit(us)
        ).cast("bigint")
    )
    pairs = df.select(
        F.col(idc).alias("__id"), binned.alias("Timeline"), *dims
    ).distinct()
    first = pairs.groupBy("__id", *dims).agg(F.min("Timeline").alias("__first"))
    # previous period's actives, relabeled to the period they precede
    prev = pairs.select(
        F.col("__id"),
        F.timestamp_micros(F.unix_micros(F.col("Timeline")) + F.lit(us)).alias(
            "Timeline"
        ),
        *dims,
    )
    prev_totals = prev.groupBy("Timeline", *dims).agg(
        F.count_distinct("__id").alias("__prev_total")
    )
    enriched = (
        pairs.join(first, ["__id", *dims])
        .withColumn("__is_new", (F.col("Timeline") == F.col("__first")).cast("int"))
        .join(
            prev.withColumn("__ret", F.lit(1)).alias("p"),
            ["__id", "Timeline", *dims],
            "left",
        )
    )
    out = (
        enriched.groupBy("Timeline", *dims)
        .agg(
            F.count_distinct("__id").alias("dcount_values"),
            F.sum("__is_new").alias("dcount_newvalues"),
            F.count(F.col("__ret")).alias("__retained"),
        )
        .join(prev_totals, ["Timeline", *dims], "left")
    )
    return out.select(
        "Timeline",
        *dims,
        "dcount_values",
        "dcount_newvalues",
        F.round(
            F.col("__retained").cast("double") / F.col("__prev_total"), 4
        ).alias("retention_rate"),
        F.round(
            (F.col("__prev_total") - F.col("__retained")).cast("double")
            / F.col("__prev_total"),
            4,
        ).alias("churn_rate"),
    )


# ---------------------------------------------- sliding_window_counts (§2.8)
def _bin_ts(col_name: str, bin_us: int):
    # floor, not cast-truncation: negative epochs must bin DOWN
    return F.timestamp_micros(
        (
            F.floor(F.unix_micros(F.col(col_name).cast("timestamp")) / F.lit(bin_us))
            * F.lit(bin_us)
        ).cast("bigint")
    )


@plugin("sliding_window_counts")
def _sliding_window_counts(ptr, df, args):
    """`T | evaluate sliding_window_counts(id, timeline, lookback, bin)` [KQL
    behavior analytics, simplified signature — no Start/End args; bins are
    data-derived]: per bin, the event count and distinct-id count within the
    trailing lookback window ending at that bin. Output: Timeline, Count,
    Dcount. Bins past the last event are clamped off (KQL's End).

    Exact lowering, no sliding self-join: each event contributes to the
    lookback/bin output bins whose trailing window covers it via a bounded
    explode (constant factor), then one hash aggregation; the max-bin clamp
    is a broadcast 1-row agg, never a driver collect. Scale: both stages are
    hash-partitioned on the bin."""
    tr = ptr.expr_tr(df)
    if len(args) != 4:
        raise KqlSemanticError(
            "sliding_window_counts(id_col, timeline_col, lookback, bin)"
        )
    idc = args[0].name if isinstance(args[0], Col) else None
    tc = args[1].name if isinstance(args[1], Col) else None
    if idc is None or tc is None:
        raise KqlSemanticError(
            "sliding_window_counts: id and timeline must be columns"
        )
    look_s = tr.const_seconds(args[2])
    bin_s = tr.const_seconds(args[3])
    if not look_s or not bin_s or look_s % bin_s:
        raise KqlSemanticError(
            "sliding_window_counts: lookback must be a multiple of bin"
        )
    ratio = int(look_s // bin_s)
    us = int(bin_s * 1_000_000)
    work = df.select(F.col(idc).alias("__id"), _bin_ts(tc, us).alias("Timeline"))
    bounds = work.agg(F.max("Timeline").alias("__mx"))
    spread = work.select(
        "__id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(ratio - 1)),
                lambda k: F.timestamp_micros(
                    F.unix_micros(F.col("Timeline")) + k.cast("bigint") * F.lit(us)
                ),
            )
        ).alias("Timeline"),
    )
    out = spread.groupBy("Timeline").agg(
        F.count(F.lit(1)).alias("Count"),
        F.count_distinct("__id").alias("Dcount"),
    )
    return (
        out.crossJoin(F.broadcast(bounds))
        .where(F.col("Timeline") <= F.col("__mx"))
        .drop("__mx")
    )


# ------------------------------------------------- rolling_percentile (§2.8)
@plugin("rolling_percentile")
def _rolling_percentile(ptr, df, args):
    """`T | evaluate rolling_percentile(value, pct, timeline, bin, bins_per
    _window)` [KQL]: per bin, the pct-th percentile (linear interpolation,
    same convention as summarize percentile()) of value over the trailing
    bins_per_window bins ending at that bin. Output: Timeline,
    rolling_<bins_per_window>_percentile_<value>_<pct> (the documented KQL
    output naming). Bins past the last event are clamped off.

    Exact lowering via the same bounded-explode trick as
    sliding_window_counts: constant fan-out = bins_per_window, one hash
    aggregation on the bin; no per-bin self-join, no driver-side state."""
    tr = ptr.expr_tr(df)
    if len(args) != 5:
        raise KqlSemanticError(
            "rolling_percentile(value_col, percentile, timeline_col, bin, "
            "bins_per_window)"
        )
    vc = args[0].name if isinstance(args[0], Col) else None
    tc = args[2].name if isinstance(args[2], Col) else None
    if vc is None or tc is None:
        raise KqlSemanticError(
            "rolling_percentile: value and timeline must be columns"
        )
    pct = float(tr.const_value(args[1]))
    bin_s = tr.const_seconds(args[3])
    bpw = int(tr.const_value(args[4]))
    if not bin_s or bpw < 1:
        raise KqlSemanticError(
            "rolling_percentile: bin must be a timespan and bins_per_window >= 1"
        )
    us = int(bin_s * 1_000_000)
    work = df.select(F.col(vc).alias("__v"), _bin_ts(tc, us).alias("Timeline"))
    bounds = work.agg(F.max("Timeline").alias("__mx"))
    spread = work.select(
        "__v",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bpw - 1)),
                lambda k: F.timestamp_micros(
                    F.unix_micros(F.col("Timeline")) + k.cast("bigint") * F.lit(us)
                ),
            )
        ).alias("Timeline"),
    )
    pname = ("%g" % pct).replace(".", "_").replace("-", "m")
    out_col = f"rolling_{bpw}_percentile_{vc}_{pname}"
    out = spread.groupBy("Timeline").agg(
        F.percentile("__v", F.lit(pct / 100.0)).alias(out_col)
    )
    return (
        out.crossJoin(F.broadcast(bounds))
        .where(F.col("Timeline") <= F.col("__mx"))
        .drop("__mx")
    )


# ---------------------------------------------------------- rows_near (§2.8)
@plugin("rows_near")
def _rows_near(ptr, df, args):
    """`T | evaluate rows_near(condition, num_rows [, num_rows_after])`
    [KQL]: keep rows within num_rows before / num_rows_after after any row
    matching the condition, in the serialized row order. Requires a
    serialized input (sort by / serialize / top upstream), same contract as
    the row_* window functions.

    Lowering: one global windowed max of the match flag over a rows-frame
    [-after, +before] — a row survives iff a hit exists in its neighborhood.
    Like serialize/row_number without `by`, the global total order is an
    inherent single-partition bottleneck at scale (translator.py:13-15);
    partition upstream when the neighborhood is per-key."""
    from pyspark.sql import Window

    tr = ptr.expr_tr(df)
    if len(args) not in (2, 3):
        raise KqlSemanticError("rows_near(condition, num_rows [, num_rows_after])")
    cond = tr.to_col(args[0])
    before = int(tr.const_value(args[1]))
    after = int(tr.const_value(args[2])) if len(args) == 3 else before
    if before < 0 or after < 0:
        raise KqlSemanticError("rows_near: row counts must be >= 0")
    if ptr.order is None:
        raise KqlSemanticError(
            "rows_near requires a serialized input (use 'sort by' or "
            "'serialize' first) [KQL]"
        )
    # hit at h keeps rows [h-before, h+after]  <=>  row r survives iff a hit
    # exists in [r-after, r+before]
    w = Window.orderBy(*ptr.order).rowsBetween(-after, before)
    flag = F.max(cond.cast("int")).over(w)
    out = df.withColumn("__kql_near", flag).where(F.col("__kql_near") == 1)
    return out.drop("__kql_near")


# -------------------------------------------------------- ipv4_lookup (§2.8)
def _ipv4_long(c):
    p = F.split(c, r"\.")
    return (
        F.element_at(p, 1).try_cast("bigint") * F.lit(16777216)
        + F.element_at(p, 2).try_cast("bigint") * F.lit(65536)
        + F.element_at(p, 3).try_cast("bigint") * F.lit(256)
        + F.element_at(p, 4).try_cast("bigint")
    )


@plugin("ipv4_lookup")
def _ipv4_lookup(ptr, df, args):
    """`T | evaluate ipv4_lookup(LookupTable, SourceIp, RangeKey [, extra
    keys...] [, return_unmatched])` [KQL]: join each row's IPv4 string
    against a lookup table of IP/CIDR ranges; when several ranges contain
    the address the LONGEST prefix wins (routing-table rule). Extra keys
    are additional equi-join columns; return_unmatched=true keeps
    unmatched rows with null lookup columns (leftouter), default drops
    them (inner).

    Lowering: the lookup side gets (start, end, bits) columns derived from
    the CIDR (arithmetic masking — base - base % 2^(32-bits) — stays in
    whole-stage codegen), is BROADCAST (lookup tables are dimension-sized
    by the KQL use case), and theta-joined on start <= ip <= end; the
    longest-prefix rule is one row_number window partitioned by a
    per-source-row id — no global order, scales with the fact side."""
    from pyspark.sql import Window

    tr = ptr.expr_tr(df)
    if len(args) < 3:
        raise KqlSemanticError(
            "ipv4_lookup(lookup_table, source_ip_col, range_key_col "
            "[, extra_key...] [, return_unmatched])"
        )
    if not isinstance(args[0], Col):
        raise KqlSemanticError("ipv4_lookup: first arg must be a table name")
    lut = ptr._resolve_table(args[0].name)
    ipc = args[1].name if isinstance(args[1], Col) else None
    keyc = args[2].name if isinstance(args[2], Col) else None
    if ipc is None or keyc is None:
        raise KqlSemanticError("ipv4_lookup: ip and range key must be columns")
    if keyc not in lut.columns:
        raise KqlSemanticError(f"ipv4_lookup: {keyc!r} not in lookup table")
    extra, unmatched = [], False
    for a in args[3:]:
        if isinstance(a, Col):
            extra.append(a.name)
        else:
            unmatched = bool(tr.const_value(a))
    sp = F.split(F.col(keyc), "/")
    bits = F.coalesce(F.element_at(sp, 2).try_cast("int"), F.lit(32))
    base = _ipv4_long(F.element_at(sp, 1))
    # span = 2^(32-bits); double pow is exact through 2^32
    span = F.pow(F.lit(2.0), (F.lit(32) - bits).cast("double")).cast("bigint")
    start = base - (base % span)
    lutp = (
        lut.withColumn("__kql_s", start)
        .withColumn("__kql_e", start + span - F.lit(1))
        .withColumn("__kql_b", bits)
    )
    # extra keys join on temp names; other name collisions get the KQL-style
    # right-side "1" suffix (same convention as join/lookup)
    for i, k in enumerate(extra):
        if k not in lutp.columns:
            raise KqlSemanticError(f"ipv4_lookup: extra key {k!r} not in lookup table")
        lutp = lutp.withColumnRenamed(k, f"__kql_k{i}")
    for c in lutp.columns:
        if c in df.columns and not c.startswith("__kql"):
            lutp = lutp.withColumnRenamed(c, c + "1")
    src = df.withColumn("__kql_rid", F.monotonically_increasing_id()).withColumn(
        "__kql_ip", _ipv4_long(F.col(ipc))
    )
    cond = (F.col("__kql_ip") >= F.col("__kql_s")) & (
        F.col("__kql_ip") <= F.col("__kql_e")
    )
    for i, k in enumerate(extra):
        cond = cond & (src[k] == F.col(f"__kql_k{i}"))
    joined = src.join(
        F.broadcast(lutp), cond, "left" if unmatched else "inner"
    )
    keyout = keyc if keyc in joined.columns else keyc + "1"
    w = Window.partitionBy("__kql_rid").orderBy(
        F.col("__kql_b").desc_nulls_last(), F.col(keyout).asc_nulls_last()
    )
    out = joined.withColumn("__kql_rn", F.row_number().over(w)).where(
        F.col("__kql_rn") == 1
    )
    drop = ["__kql_rid", "__kql_ip", "__kql_s", "__kql_e", "__kql_b", "__kql_rn"]
    drop += [f"__kql_k{i}" for i in range(len(extra))]
    return out.drop(*drop)


# -------------------------------------------------------- ipv6_lookup (§2.8)
_IPV6_LOOKUP_UDFS: dict = {}


def _ipv6_lookup_udfs():
    """Arrow-batched kernels for the 128-bit range join: addresses become
    fixed-width 32-char hex strings (lexicographic order == numeric order,
    so the theta join stays a plain JVM string comparison); CIDR keys
    expand to a (start, end, bits) struct once on the broadcast side."""
    if _IPV6_LOOKUP_UDFS:
        return _IPV6_LOOKUP_UDFS
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..functions.scalar import _ipv6_masked, _ipv6_value

    @pandas_udf("string")
    def ip_hex(s):
        def one(x):
            v, _ = _ipv6_value(x)
            return None if v is None else format(v, "032x")

        return s.map(one)

    @pandas_udf("s string, e string, b int")
    def cidr_range(col):
        rows = []
        for x in col:
            v, p = _ipv6_value(x)
            if v is None:
                rows.append((None, None, None))
            else:
                lo = _ipv6_masked(v, p)
                hi = lo | ((1 << (128 - p)) - 1) if p < 128 else lo
                rows.append((format(lo, "032x"), format(hi, "032x"), p))
        return pd.DataFrame(rows, columns=["s", "e", "b"])

    _IPV6_LOOKUP_UDFS["ip_hex"] = ip_hex
    _IPV6_LOOKUP_UDFS["cidr_range"] = cidr_range
    return _IPV6_LOOKUP_UDFS


@plugin("ipv6_lookup")
def _ipv6_lookup(ptr, df, args):
    """`T | evaluate ipv6_lookup(LookupTable, SourceIp, RangeKey [, extra
    keys...] [, return_unmatched])` [KQL]: IPv6 twin of ipv4_lookup —
    join each row's IPv6 (or IPv4, auto-mapped to ::ffff:a.b.c.d) string
    against a lookup table of address/CIDR ranges; longest prefix wins.

    Lowering: 128 bits don't fit a bigint, so both sides canonicalize to
    32-char zero-padded hex (Arrow-batched pandas UDFs — once per
    broadcast lookup row, once per fact row); the range join itself is a
    JVM string-compare theta join against the BROADCAST lookup side, and
    the longest-prefix rule is a row_number window partitioned by a
    per-source-row id — no global order, scales with the fact side."""
    from pyspark.sql import Window

    tr = ptr.expr_tr(df)
    if len(args) < 3:
        raise KqlSemanticError(
            "ipv6_lookup(lookup_table, source_ip_col, range_key_col "
            "[, extra_key...] [, return_unmatched])"
        )
    if not isinstance(args[0], Col):
        raise KqlSemanticError("ipv6_lookup: first arg must be a table name")
    lut = ptr._resolve_table(args[0].name)
    ipc = args[1].name if isinstance(args[1], Col) else None
    keyc = args[2].name if isinstance(args[2], Col) else None
    if ipc is None or keyc is None:
        raise KqlSemanticError("ipv6_lookup: ip and range key must be columns")
    if keyc not in lut.columns:
        raise KqlSemanticError(f"ipv6_lookup: {keyc!r} not in lookup table")
    extra, unmatched = [], False
    for a in args[3:]:
        if isinstance(a, Col):
            extra.append(a.name)
        else:
            unmatched = bool(tr.const_value(a))
    udfs = _ipv6_lookup_udfs()
    rng = udfs["cidr_range"](F.col(keyc).cast("string"))
    lutp = (
        lut.withColumn("__kql_rng", rng)
        .withColumn("__kql_s", F.col("__kql_rng.s"))
        .withColumn("__kql_e", F.col("__kql_rng.e"))
        .withColumn("__kql_b", F.col("__kql_rng.b"))
        .drop("__kql_rng")
    )
    for i, k in enumerate(extra):
        if k not in lutp.columns:
            raise KqlSemanticError(f"ipv6_lookup: extra key {k!r} not in lookup table")
        lutp = lutp.withColumnRenamed(k, f"__kql_k{i}")
    for c in lutp.columns:
        if c in df.columns and not c.startswith("__kql"):
            lutp = lutp.withColumnRenamed(c, c + "1")
    src = df.withColumn("__kql_rid", F.monotonically_increasing_id()).withColumn(
        "__kql_ip", udfs["ip_hex"](F.col(ipc).cast("string"))
    )
    cond = (F.col("__kql_ip") >= F.col("__kql_s")) & (
        F.col("__kql_ip") <= F.col("__kql_e")
    )
    for i, k in enumerate(extra):
        cond = cond & (src[k] == F.col(f"__kql_k{i}"))
    joined = src.join(F.broadcast(lutp), cond, "left" if unmatched else "inner")
    keyout = keyc if keyc in joined.columns else keyc + "1"
    w = Window.partitionBy("__kql_rid").orderBy(
        F.col("__kql_b").desc_nulls_last(), F.col(keyout).asc_nulls_last()
    )
    out = joined.withColumn("__kql_rn", F.row_number().over(w)).where(
        F.col("__kql_rn") == 1
    )
    drop = ["__kql_rid", "__kql_ip", "__kql_s", "__kql_e", "__kql_b", "__kql_rn"]
    drop += [f"__kql_k{i}" for i in range(len(extra))]
    return out.drop(*drop)


# -------------------------------------------- activity_counts_metrics (§2.8)
@plugin("activity_counts_metrics")
def _activity_counts_metrics(ptr, df, args):
    """`T | evaluate activity_counts_metrics(id, timeline, period)` [KQL
    behavior analytics, simplified signature — no Start/End args; bins are
    data-derived]: per period bin — total activity count, distinct-id
    count, first-seen (new) id count, and the cumulative distinct-id count
    from the start of data through that bin. Output: Timeline, count,
    dcount, new_dcount, aggregated_dcount.

    Exact lowering: per-bin count/dcount is one hash aggregation; new ids
    via one groupBy(id) min-bin; aggregated_dcount is the running sum of
    new_dcount over the BIN-LEVEL frame (cardinality = number of bins, not
    rows, so the unpartitioned cumsum window is bounded and safe at
    scale)."""
    from pyspark.sql import Window

    tr = ptr.expr_tr(df)
    if len(args) != 3:
        raise KqlSemanticError("activity_counts_metrics(id_col, timeline_col, period)")
    idc = args[0].name if isinstance(args[0], Col) else None
    tc = args[1].name if isinstance(args[1], Col) else None
    if idc is None or tc is None:
        raise KqlSemanticError(
            "activity_counts_metrics: id and timeline must be columns"
        )
    period_s = tr.const_seconds(args[2])
    if not period_s:
        raise KqlSemanticError("activity_counts_metrics: period must be a timespan")
    us = int(period_s * 1_000_000)
    work = df.select(F.col(idc).alias("__id"), _bin_ts(tc, us).alias("Timeline"))
    per_bin = work.groupBy("Timeline").agg(
        F.count(F.lit(1)).alias("count"),
        F.count_distinct("__id").alias("dcount"),
    )
    firsts = work.groupBy("__id").agg(F.min("Timeline").alias("Timeline"))
    new_per_bin = firsts.groupBy("Timeline").agg(
        F.count(F.lit(1)).alias("new_dcount")
    )
    out = per_bin.join(new_per_bin, "Timeline", "left").withColumn(
        "new_dcount", F.coalesce(F.col("new_dcount"), F.lit(0))
    )
    w = Window.orderBy("Timeline").rowsBetween(Window.unboundedPreceding, 0)
    return out.select(
        "Timeline",
        "count",
        "dcount",
        "new_dcount",
        F.sum("new_dcount").over(w).alias("aggregated_dcount"),
    )


# ---------------------------------------------------- session_count (§2.8)
@plugin("session_count")
def _session_count(ptr, df, args):
    """`T | evaluate session_count(id, timeline, bin, look_back)` [KQL
    behavior analytics, simplified signature — no Start/End/dims]: per bin,
    the number of sessions STARTED in that bin. A session starts at an
    activity whose same-id predecessor is more than `look_back` earlier (or
    absent) — Kusto's session model; the engine counts sessions at their
    start bin (documented delta: Kusto counts a session in every bin it
    remains active in).

    Exact lowering: one lag window partitioned by id ordered by timeline
    (hash-partitioned on id — no global order), then one hash aggregation
    on the start bin. Two shuffles total, no driver-side state."""
    from pyspark.sql import Window

    tr = ptr.expr_tr(df)
    if len(args) != 4:
        raise KqlSemanticError("session_count(id_col, timeline_col, bin, look_back)")
    idc = args[0].name if isinstance(args[0], Col) else None
    tc = args[1].name if isinstance(args[1], Col) else None
    if idc is None or tc is None:
        raise KqlSemanticError("session_count: id and timeline must be columns")
    bin_s = tr.const_seconds(args[2])
    look_s = tr.const_seconds(args[3])
    if not bin_s or not look_s:
        raise KqlSemanticError("session_count: bin and look_back must be timespans")
    us = int(bin_s * 1_000_000)
    w = Window.partitionBy(idc).orderBy(F.col(tc).cast("timestamp"))
    prev = F.lag(F.col(tc).cast("timestamp")).over(w)
    gap_us = F.unix_micros(F.col(tc).cast("timestamp")) - F.unix_micros(prev)
    starts = df.withColumn("__prev_gap", gap_us).where(
        F.col("__prev_gap").isNull()
        | (F.col("__prev_gap") > F.lit(int(look_s * 1_000_000)))
    )
    return (
        starts.select(_bin_ts(tc, us).alias("Timeline"))
        .groupBy("Timeline")
        .agg(F.count(F.lit(1)).alias("count_sessions"))
    )


# ------------------------------------- funnel_sequence_completion (§2.8)
@plugin("funnel_sequence_completion")
def _funnel_sequence_completion(ptr, df, args):
    """`T | evaluate funnel_sequence_completion(id, timeline, bin, state,
    s1, s2, ..., sN, max_window)` [KQL behavior analytics, simplified
    signature — the sequence is passed as inline state literals instead of
    a dynamic array, no Start/End]: funnel completion counts. For each
    funnel prefix s1..sk, the distinct ids whose chained FIRST occurrences
    complete the prefix in order within `max_window` of the step-1 time,
    grouped by the bin of their step-1 time. Output: Timeline, Step (1-
    based), StateName, dcount.

    Chained-min semantics (deterministic, declarative): t1 = min time of
    s1 per id; t_k = min time of s_k at/after t_{k-1} and within
    max_window of t1. Lowering is k-1 hash equi-joins on id plus k hash
    aggregations — no applyInPandas, no per-row Python, scales with the
    fact table. The step frames after step 1 are id-level (one row per
    id), so each join's build side shrinks monotonically."""
    tr = ptr.expr_tr(df)
    if len(args) < 6:
        raise KqlSemanticError(
            "funnel_sequence_completion(id, timeline, bin, state_col, "
            "state1, state2, ..., max_window)"
        )
    idc = args[0].name if isinstance(args[0], Col) else None
    tc = args[1].name if isinstance(args[1], Col) else None
    sc = args[3].name if isinstance(args[3], Col) else None
    if idc is None or tc is None or sc is None:
        raise KqlSemanticError(
            "funnel_sequence_completion: id, timeline and state must be columns"
        )
    bin_s = tr.const_seconds(args[2])
    win_s = tr.const_seconds(args[-1])
    if not bin_s or not win_s:
        raise KqlSemanticError(
            "funnel_sequence_completion: bin and max_window must be timespans"
        )
    states = [str(tr.const_value(a)) for a in args[4:-1]]
    if not states:
        raise KqlSemanticError("funnel_sequence_completion: need >= 1 state")
    us = int(bin_s * 1_000_000)
    win_us = int(win_s * 1_000_000)
    ev = df.select(
        F.col(idc).alias("__id"),
        F.unix_micros(F.col(tc).cast("timestamp")).alias("__t"),
        F.col(sc).cast("string").alias("__s"),
    )
    # step 1: first occurrence of s1 per id
    cur = (
        ev.where(F.col("__s") == states[0])
        .groupBy("__id")
        .agg(F.min("__t").alias("__t1"))
        .withColumn("__tk", F.col("__t1"))
    )
    pieces = []
    for k, st in enumerate(states, start=1):
        if k > 1:
            nxt = ev.where(F.col("__s") == F.lit(st)).alias("e")
            cur = (
                nxt.join(cur.alias("c"), F.col("e.__id") == F.col("c.__id"))
                .where(
                    (F.col("e.__t") >= F.col("c.__tk"))
                    & (F.col("e.__t") <= F.col("c.__t1") + F.lit(win_us))
                )
                .groupBy(F.col("c.__id").alias("__id"), F.col("c.__t1").alias("__t1"))
                .agg(F.min(F.col("e.__t")).alias("__tk"))
            )
        pieces.append(
            cur.select(
                F.timestamp_micros(
                    (F.floor(F.col("__t1") / F.lit(us)) * F.lit(us)).cast("bigint")
                ).alias("Timeline"),
                F.lit(k).cast("long").alias("Step"),
                F.lit(st).alias("StateName"),
                F.col("__id"),
            )
        )
    allp = pieces[0]
    for p in pieces[1:]:
        allp = allp.unionByName(p)
    return allp.groupBy("Timeline", "Step", "StateName").agg(
        F.count_distinct("__id").alias("dcount")
    )


# ------------------------------------------------- dcount_intersect (§2.8)
@plugin("dcount_intersect")
def _dcount_intersect(ptr, df, args):
    """`T | evaluate dcount_intersect(hll_1, hll_2 [, hll_3])` [KQL]:
    given per-row hll() sketches of progressively-restricted populations,
    estimate the cardinality of their intersections via inclusion-
    exclusion: s0 = |A|, s1 = |A ∩ B| = |A| + |B| − |A ∪ B|, s2 likewise
    over the 3-way union. Unions are sketch merges (hll_merge scalar), so
    the whole computation is row-wise column expressions — no shuffle, no
    driver-side work; sketches stay mergeable at any scale.

    Matches Kusto's output naming: s0, s1, s2."""
    if not 2 <= len(args) <= 3:
        raise KqlSemanticError("dcount_intersect(hll_1, hll_2 [, hll_3])")
    cols = []
    for a in args:
        if not isinstance(a, Col):
            raise KqlSemanticError("dcount_intersect: args must be hll columns")
        cols.append(a.name)

    def est(*names):
        merged = F.col(names[0])
        for n in names[1:]:
            merged = F.hll_union(merged, F.col(n), True)
        return F.hll_sketch_estimate(merged)

    a, b = cols[0], cols[1]
    sizes = {
        "a": est(a),
        "b": est(b),
        "ab": est(a, b),
    }
    out_cols = [
        sizes["a"].cast("long").alias("s0"),
        (sizes["a"] + sizes["b"] - sizes["ab"]).cast("long").alias("s1"),
    ]
    if len(cols) == 3:
        c = cols[2]
        sizes["c"] = est(c)
        sizes["ac"] = est(a, c)
        sizes["bc"] = est(b, c)
        sizes["abc"] = est(a, b, c)
        out_cols.append(
            (
                sizes["a"] + sizes["b"] + sizes["c"]
                - sizes["ab"] - sizes["ac"] - sizes["bc"]
                + sizes["abc"]
            ).cast("long").alias("s2")
        )
    keep = [c for c in df.columns if c not in cols]
    return df.select(*keep, *out_cols)


# ---------------------------------------------------- funnel_sequence (§2.8)
@plugin("funnel_sequence")
def _funnel_sequence(ptr, df, args):
    """`T | evaluate funnel_sequence(id, timeline, state, s1, ..., sN,
    max_window)` [KQL behavior analytics, simplified: inline state
    literals; single output table instead of Kusto's three]: for ids whose
    chained FIRST occurrences complete the s1..sN sequence within
    `max_window`, the distribution of the state immediately BEFORE step 1
    and immediately AFTER step N. Output: prev, next, dcount (null
    prev/next = the sequence was the id's first/last activity).

    Lowering: the chained-min funnel core (same shape as
    funnel_sequence_completion, k-1 id-keyed hash joins), then one lag/lead
    window partitioned by id to find the neighborhood states, one semi-join
    onto completers, one hash aggregation. No cartesians, no driver-side
    state."""
    from pyspark.sql import Window

    tr = ptr.expr_tr(df)
    if len(args) < 5:
        raise KqlSemanticError(
            "funnel_sequence(id, timeline, state_col, state1, ..., max_window)"
        )
    idc = args[0].name if isinstance(args[0], Col) else None
    tc = args[1].name if isinstance(args[1], Col) else None
    sc = args[2].name if isinstance(args[2], Col) else None
    if idc is None or tc is None or sc is None:
        raise KqlSemanticError(
            "funnel_sequence: id, timeline and state must be columns"
        )
    win_s = tr.const_seconds(args[-1])
    if not win_s:
        raise KqlSemanticError("funnel_sequence: max_window must be a timespan")
    states = [str(tr.const_value(a)) for a in args[3:-1]]
    if not states:
        raise KqlSemanticError("funnel_sequence: need >= 1 state")
    win_us = int(win_s * 1_000_000)
    ev = df.select(
        F.col(idc).alias("__id"),
        F.unix_micros(F.col(tc).cast("timestamp")).alias("__t"),
        F.col(sc).cast("string").alias("__s"),
    )
    cur = (
        ev.where(F.col("__s") == states[0])
        .groupBy("__id")
        .agg(F.min("__t").alias("__t1"))
        .withColumn("__tk", F.col("__t1"))
    )
    for st in states[1:]:
        nxt = ev.where(F.col("__s") == F.lit(st)).alias("e")
        cur = (
            nxt.join(cur.alias("c"), F.col("e.__id") == F.col("c.__id"))
            .where(
                (F.col("e.__t") >= F.col("c.__tk"))
                & (F.col("e.__t") <= F.col("c.__t1") + F.lit(win_us))
            )
            .groupBy(F.col("c.__id").alias("__id"), F.col("c.__t1").alias("__t1"))
            .agg(F.min(F.col("e.__t")).alias("__tk"))
        )
    completers = cur  # __id, __t1 (step-1 time), __tk (step-N time)
    w = Window.partitionBy("__id").orderBy("__t")
    nbh = ev.select(
        "__id",
        "__t",
        F.lag("__s").over(w).alias("__prev"),
        F.lead("__s").over(w).alias("__next"),
    )
    # the state just before the sequence entry and just after its exit
    joined = (
        nbh.alias("n")
        .join(completers.alias("c"), F.col("n.__id") == F.col("c.__id"))
        .where(
            (F.col("n.__t") == F.col("c.__t1")) | (F.col("n.__t") == F.col("c.__tk"))
        )
        .groupBy(F.col("n.__id").alias("__id"))
        .agg(
            F.max(
                F.when(F.col("n.__t") == F.col("c.__t1"), F.col("n.__prev"))
            ).alias("prev"),
            F.max(
                F.when(F.col("n.__t") == F.col("c.__tk"), F.col("n.__next"))
            ).alias("next"),
        )
    )
    return joined.groupBy("prev", "next").agg(
        F.count_distinct("__id").alias("dcount")
    )


# ---------------------------------------------- diffpatterns (§2.8 mining)
# Kusto's split-compare miner. The published contract: split rows into two
# sets by a column value, return (column=value) patterns whose share differs
# between the sides. Exact algorithm unpublished -> Tier C like autocluster:
# FPGrowth per side (distributed, support-bounded), full-outer join of the
# itemsets on a canonical key, |percent-diff| ranking, greedy subsumption
# prune over the bounded candidate list (never data-bounded driver work).


@plugin("diffpatterns")
def _diffpatterns(ptr, df, args):
    """`T | evaluate diffpatterns(SplitColumn, ValueA, ValueB[, threshold])`
    -> SegmentId, CountA, CountB, PercentA, PercentB, PercentDiffAB + one
    column per remaining attribute (null = wildcard)."""
    tr = ptr.expr_tr(df)
    if len(args) < 3 or not isinstance(args[0], Col):
        raise KqlSemanticError(
            "diffpatterns(SplitColumn, ValueA, ValueB[, threshold]) requires "
            "a split column reference and two split values"
        )
    split = args[0].name
    va = str(tr.const_value(args[1]))
    vb = str(tr.const_value(args[2]))
    if len(args) > 3 and isinstance(args[3], Col):
        # Kusto's 4th positional is WeightColumn; FPGrowth mines unweighted
        raise KqlUnsupportedError(
            "diffpatterns: WeightColumn is not supported (the FPGrowth "
            "candidate miner counts rows); pre-expand weighted rows or "
            "drop the argument"
        )
    thr = float(tr.const_value(args[3])) if len(args) > 3 else 0.05
    sides = df.withColumn("__side", F.col(split).cast("string"))
    dfa = sides.filter(F.col("__side") == va).drop("__side", split)
    dfb = sides.filter(F.col("__side") == vb).drop("__side", split)
    ca, cb = dfa.count(), dfb.count()
    attr_cols = [c for c in df.columns if c != split]

    def mined(d, n):
        if n == 0:
            return None
        return _fp_itemsets(d, thr).select(
            F.array_sort("items").alias("key"), F.col("freq")
        )

    ia, ib = mined(dfa, ca), mined(dfb, cb)
    if ia is None and ib is None:
        empty = [
            ("SegmentId", "bigint"), ("CountA", "bigint"), ("CountB", "bigint"),
            ("PercentA", "double"), ("PercentB", "double"),
            ("PercentDiffAB", "double"),
        ]
        schema = ", ".join(f"`{n}` {t}" for n, t in empty) + ", " + ", ".join(
            f"`{c}` string" for c in attr_cols
        )
        return df.sparkSession.createDataFrame([], schema)
    if ia is None:
        both = ib.select("key", F.lit(0).alias("fa"), F.col("freq").alias("fb"))
    elif ib is None:
        both = ia.select("key", F.col("freq").alias("fa"), F.lit(0).alias("fb"))
    else:
        both = (
            ia.withColumnRenamed("freq", "fa")
            .join(ib.withColumnRenamed("freq", "fb"), "key", "full_outer")
            .fillna(0, ["fa", "fb"])
        )
    # support-bounded candidate list -> driver; subsumption prune like
    # autocluster (a more general pattern with a bigger diff wins)
    cand = sorted(
        (
            (
                abs(r["fa"] * 100.0 / max(ca, 1) - r["fb"] * 100.0 / max(cb, 1)),
                set(r["key"]),
                r,
            )
            for r in both.collect()
        ),
        key=lambda t: (-t[0], sorted(t[1])),
    )
    picked: list = []
    for diff, items, row in cand:
        if any(p <= items for _, p, _ in picked):
            continue  # a more general, better-diff pattern subsumes this one
        picked.append((diff, items, row))
        if len(picked) >= 32:
            break
    rows = []
    for sid, (diff, items, row) in enumerate(picked):
        vals = {}
        for it in items:
            k, _, v = it.partition("=")
            vals[k] = v
        pa = round(row["fa"] * 100.0 / max(ca, 1), 2)
        pb = round(row["fb"] * 100.0 / max(cb, 1), 2)
        rows.append(
            (
                sid, row["fa"], row["fb"], pa, pb, round(pa - pb, 2),
                *[vals.get(c) for c in attr_cols],
            )
        )
    schema = (
        "`SegmentId` bigint, `CountA` bigint, `CountB` bigint, "
        "`PercentA` double, `PercentB` double, `PercentDiffAB` double, "
        + ", ".join(f"`{c}` string" for c in attr_cols)
    )
    return df.sparkSession.createDataFrame(rows, schema)


@plugin("diffpatterns_text")
def _diffpatterns_text(ptr, df, args):
    """`T | evaluate diffpatterns_text(TextColumn, SplitColumn, ValueA,
    ValueB)` -> Count_of_A, Count_of_B, Percent_of_A, Percent_of_B, Pattern.

    Tier C approximation of Kusto's (unpublished) text-pattern miner:
    lines are clustered by token count; within a cluster a position keeps
    its token when one value covers a majority of the cluster's rows,
    otherwise it generalizes to `*`. Patterns are ranked by
    |Percent_of_A - Percent_of_B|. All aggregation is shuffle-partitioned
    (explode -> count -> join); no driver-side data path."""
    if len(args) < 4 or not isinstance(args[0], Col) or not isinstance(args[1], Col):
        raise KqlSemanticError(
            "diffpatterns_text(TextColumn, SplitColumn, ValueA, ValueB) "
            "requires two column references and two split values"
        )
    tr = ptr.expr_tr(df)
    textc, split = args[0].name, args[1].name
    va = str(tr.const_value(args[2]))
    vb = str(tr.const_value(args[3]))
    base = (
        df.select(
            F.col(split).cast("string").alias("__side"),
            F.split(F.trim(F.col(textc).cast("string")), r"\s+").alias("__toks"),
        )
        .filter(F.col("__side").isin(va, vb))
        .withColumn("__len", F.size("__toks"))
        .withColumn("__rid", F.monotonically_increasing_id())
    )
    ca = base.filter(F.col("__side") == va).count()
    cb = base.filter(F.col("__side") == vb).count()
    pos = base.select(
        "__rid", "__len",
        F.posexplode("__toks").alias("__p", "__tok"),
    )
    by_cluster = pos.groupBy("__len", "__p", "__tok").agg(
        F.count("*").alias("__n")
    )
    cluster_sz = base.groupBy("__len").agg(F.count("*").alias("__csz"))
    keep = (
        by_cluster.join(cluster_sz, "__len")
        .withColumn("__keep", F.col("__n") * 2 >= F.col("__csz"))
        .select("__len", "__p", "__tok", "__keep")
    )
    patterned = (
        pos.join(keep, ["__len", "__p", "__tok"], "left")
        .withColumn(
            "__out",
            F.when(F.coalesce(F.col("__keep"), F.lit(False)), F.col("__tok"))
            .otherwise(F.lit("*")),
        )
        .groupBy("__rid")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("__p", "__out"))
                    ),
                    lambda s: s["__out"],
                ),
                " ",
            ).alias("Pattern")
        )
    )
    out = (
        patterned.join(base.select("__rid", "__side"), "__rid")
        .groupBy("Pattern")
        .agg(
            F.sum(F.when(F.col("__side") == va, 1).otherwise(0)).alias("Count_of_A"),
            F.sum(F.when(F.col("__side") == vb, 1).otherwise(0)).alias("Count_of_B"),
        )
        .withColumn("Percent_of_A", F.round(F.col("Count_of_A") * 100.0 / F.lit(max(ca, 1)), 2))
        .withColumn("Percent_of_B", F.round(F.col("Count_of_B") * 100.0 / F.lit(max(cb, 1)), 2))
        .withColumn("__diff", F.abs(F.col("Percent_of_A") - F.col("Percent_of_B")))
        .orderBy(F.col("__diff").desc(), "Pattern")
        .limit(32)
        .select("Count_of_A", "Count_of_B", "Percent_of_A", "Percent_of_B", "Pattern")
    )
    return out


@plugin("geo_polygon_lookup")
def _geo_polygon_lookup(ptr, df, args):
    """`T | evaluate geo_polygon_lookup(LookupTable, PolygonKey, SourceLon,
    SourceLat [, radius] [, return_unmatched])` [KQL]: join each row point against a
    table of GeoJSON polygons; one output row per CONTAINING polygon
    (Kusto returns all matches), return_unmatched=true keeps pointless rows
    with null lookup columns.

    Lowering: the polygon table is dimension-sized by the use case, so it
    is BROADCAST with precomputed bounding boxes (JVM-side from_json +
    array aggregates); the join condition is the bbox range test — pure
    codegen, prunes almost all pairs — and only survivors reach the exact
    hole-aware ray-cast pandas UDF. At 100 TB the fact side streams
    map-side; an S2-cover equi-join is the documented next gear if the
    polygon table itself outgrows broadcast."""
    from ..functions.scalar import _geo_coords, _point_in_rings

    tr = ptr.expr_tr(df)
    if len(args) < 4:
        raise KqlSemanticError(
            "geo_polygon_lookup(lookup_table, polygon_key_col, lon_col, "
            "lat_col [, return_unmatched])"
        )
    if not isinstance(args[0], Col):
        raise KqlSemanticError("geo_polygon_lookup: first arg must be a table name")
    lut = ptr._resolve_table(args[0].name)
    names = [a.name if isinstance(a, Col) else None for a in args[1:4]]
    keyc, lonc, latc = names
    if keyc is None or lonc is None or latc is None:
        raise KqlSemanticError(
            "geo_polygon_lookup: polygon key, lon and lat must be columns"
        )
    if keyc not in lut.columns:
        raise KqlSemanticError(f"geo_polygon_lookup: {keyc!r} not in lookup table")
    lut = lut.withColumn(keyc, _geojson_or_wkt(F.col(keyc)))  # WKT carrier OK
    # optional numeric radius then optional bool return_unmatched [KQL]
    radius, unmatched = 0.0, False
    rest = list(args[4:])
    if rest and not isinstance(rest[0], Col):
        v = tr.const_value(rest[0])
        if isinstance(v, bool):
            unmatched = v
        else:
            radius = float(v)
            if radius < 0:
                raise KqlSemanticError("geo_polygon_lookup: radius must be >= 0")
            if len(rest) > 1:
                unmatched = bool(tr.const_value(rest[1]))

    parsed = F.from_json(
        F.col(keyc).cast("string"),
        "STRUCT<type: STRING, coordinates: ARRAY<ARRAY<ARRAY<DOUBLE>>>>",
    )
    pts = F.flatten(parsed["coordinates"])
    lons = F.transform(pts, lambda p: p[0])
    lats = F.transform(pts, lambda p: p[1])
    # bbox padded by the radius (conservative degree conversion, pole-clamped)
    pad_lat = F.lit(radius / 110574.0)
    lat_max_abs = F.least(
        F.greatest(F.abs(F.array_min(lats)), F.abs(F.array_max(lats))),
        F.lit(89.0),
    )
    pad_lon = F.lit(radius) / (F.lit(111320.0) * F.cos(F.radians(lat_max_abs)))
    lutp = (
        lut.withColumn("__kql_lomin", F.array_min(lons) - pad_lon)
        .withColumn("__kql_lomax", F.array_max(lons) + pad_lon)
        .withColumn("__kql_lamin", F.array_min(lats) - pad_lat)
        .withColumn("__kql_lamax", F.array_max(lats) + pad_lat)
    )
    for c in lutp.columns:
        if c in df.columns and not c.startswith("__kql"):
            lutp = lutp.withColumnRenamed(c, c + "1")
    keyout = keyc if keyc in lutp.columns else keyc + "1"

    udf_key = f"geo_poly_contains:{radius}"
    if udf_key not in _GEO_UDFS:
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        from ..functions.scalar import _GEO_R, _polygon_closest

        @pandas_udf("boolean")
        def contains(lons_s, lats_s, polys_s):
            def one(lo, la, s):
                if lo is None or la is None or s is None:
                    return False
                if radius <= 0:
                    rings = _geo_coords(s, "Polygon")
                    if not rings:
                        return False
                    return _point_in_rings(float(lo), float(la), rings)
                r = _polygon_closest(lo, la, s)
                if r is None:
                    return False
                inside, ang, _ = r
                return bool(inside or ang * _GEO_R <= radius)

            return pd.Series(
                [one(lo, la, s) for lo, la, s in zip(lons_s, lats_s, polys_s)]
            )

        _GEO_UDFS[udf_key] = contains
    contains = _GEO_UDFS[udf_key]

    lon_col = F.col(lonc).cast("double")
    lat_col = F.col(latc).cast("double")
    bbox = (
        (lon_col >= F.col("__kql_lomin")) & (lon_col <= F.col("__kql_lomax"))
        & (lat_col >= F.col("__kql_lamin")) & (lat_col <= F.col("__kql_lamax"))
    )
    cond = bbox & contains(
        lon_col, lat_col, F.col(keyout).cast("string")
    )
    bbox_cols = ["__kql_lomin", "__kql_lomax", "__kql_lamin", "__kql_lamax"]
    if not unmatched:
        return df.join(F.broadcast(lutp), cond, "inner").drop(*bbox_cols)
    # Python UDFs can't appear in an outer-join ON clause: inner-join a
    # rid-tagged source, then union back the rows no polygon matched
    src = df.withColumn("__kql_rid", F.monotonically_increasing_id())
    matched = src.join(F.broadcast(lutp), cond, "inner")
    missing = src.join(
        matched.select("__kql_rid"), "__kql_rid", "left_anti"
    )
    out = matched.unionByName(missing, allowMissingColumns=True)
    return out.drop("__kql_rid", *bbox_cols)


_GEO_UDFS: dict = {}


def _geojson_or_wkt(col):
    """Normalize a geometry key column: JSON text passes through, anything
    else converts from WKT (round 6 — carrier parity with the scalar geo
    family, which sniffs WKT in _geo_coords). Lookup tables are
    dimension-sized, so the conditional pandas-UDF conversion cost is
    negligible; malformed WKT nulls out and simply never matches."""
    if "wkt2gj" not in _GEO_UDFS:
        from pyspark.sql.functions import pandas_udf

        from ..functions.scalar import _wkt_to_geojson_text

        @pandas_udf("string")
        def conv(s):
            return s.map(lambda v: None if v is None else _wkt_to_geojson_text(v))

        _GEO_UDFS["wkt2gj"] = conv
    c = col.cast("string")
    return F.when(F.ltrim(c).startswith("{"), c).otherwise(_GEO_UDFS["wkt2gj"](c))


@plugin("geo_line_lookup")
def _geo_line_lookup(ptr, df, args):
    """`T | evaluate geo_line_lookup(LookupTable, LineKey, SourceLon,
    SourceLat, Radius [, return_unmatched])` [KQL]: join each row's point
    against a table of GeoJSON LineStrings, matching every line within
    Radius meters.

    Same lowering as geo_polygon_lookup: broadcast lines with JVM-side
    bboxes PADDED by the radius (conservative degree conversion), bbox
    range condition prunes in codegen, exact clamped cross-track distance
    runs in a pandas UDF on survivors."""
    from ..functions.scalar import (
        _GEO_R, _closest_on_arcs, _geo_coords, _lonlat_unit,
    )

    tr = ptr.expr_tr(df)
    if len(args) < 5:
        raise KqlSemanticError(
            "geo_line_lookup(lookup_table, line_key_col, lon_col, lat_col, "
            "radius_meters [, return_unmatched])"
        )
    if not isinstance(args[0], Col):
        raise KqlSemanticError("geo_line_lookup: first arg must be a table name")
    lut = ptr._resolve_table(args[0].name)
    names = [a.name if isinstance(a, Col) else None for a in args[1:4]]
    keyc, lonc, latc = names
    if keyc is None or lonc is None or latc is None:
        raise KqlSemanticError("geo_line_lookup: line key, lon and lat must be columns")
    if keyc not in lut.columns:
        raise KqlSemanticError(f"geo_line_lookup: {keyc!r} not in lookup table")
    lut = lut.withColumn(keyc, _geojson_or_wkt(F.col(keyc)))  # WKT carrier OK
    radius = float(tr.const_value(args[4]))
    if not radius > 0:
        raise KqlSemanticError("geo_line_lookup: radius must be positive meters")
    unmatched = bool(tr.const_value(args[5])) if len(args) > 5 else False

    parsed = F.from_json(
        F.col(keyc).cast("string"),
        "STRUCT<type: STRING, coordinates: ARRAY<ARRAY<DOUBLE>>>",
    )
    pts = parsed["coordinates"]
    lons = F.transform(pts, lambda p: p[0])
    lats = F.transform(pts, lambda p: p[1])
    # conservative degree padding: 1 deg lat ~ 110.6 km; lon shrinks by
    # cos(lat), clamped away from the poles
    pad_lat = radius / 110574.0
    lat_max_abs = F.least(
        F.greatest(F.abs(F.array_min(lats)), F.abs(F.array_max(lats))),
        F.lit(89.0),
    )
    pad_lon = F.lit(radius) / (
        F.lit(111320.0) * F.cos(F.radians(lat_max_abs))
    )
    lutp = (
        lut.withColumn("__kql_lomin", F.array_min(lons) - pad_lon)
        .withColumn("__kql_lomax", F.array_max(lons) + pad_lon)
        .withColumn("__kql_lamin", F.array_min(lats) - F.lit(pad_lat))
        .withColumn("__kql_lamax", F.array_max(lats) + F.lit(pad_lat))
    )
    for c in lutp.columns:
        if c in df.columns and not c.startswith("__kql"):
            lutp = lutp.withColumnRenamed(c, c + "1")
    keyout = keyc if keyc in lutp.columns else keyc + "1"

    udf_key = f"geo_line_within:{radius}"
    if udf_key not in _GEO_UDFS:
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("boolean")
        def within(lons_s, lats_s, lines_s):
            def one(lo, la, s):
                if lo is None or la is None or s is None:
                    return False
                cs = _geo_coords(s, "LineString")
                if cs is None or len(cs) < 2:
                    return False
                seg = np.asarray(cs, dtype="float64")
                p = _lonlat_unit(float(lo), float(la))
                a = _lonlat_unit(seg[:-1, 0], seg[:-1, 1])
                b = _lonlat_unit(seg[1:, 0], seg[1:, 1])
                ang, _ = _closest_on_arcs(p, a, b)
                return bool(ang * _GEO_R <= radius)

            return pd.Series(
                [one(lo, la, s) for lo, la, s in zip(lons_s, lats_s, lines_s)]
            )

        _GEO_UDFS[udf_key] = within
    within = _GEO_UDFS[udf_key]

    lon_col = F.col(lonc).cast("double")
    lat_col = F.col(latc).cast("double")
    bbox = (
        (lon_col >= F.col("__kql_lomin")) & (lon_col <= F.col("__kql_lomax"))
        & (lat_col >= F.col("__kql_lamin")) & (lat_col <= F.col("__kql_lamax"))
    )
    cond = bbox & within(lon_col, lat_col, F.col(keyout).cast("string"))
    bbox_cols = ["__kql_lomin", "__kql_lomax", "__kql_lamin", "__kql_lamax"]
    if not unmatched:
        return df.join(F.broadcast(lutp), cond, "inner").drop(*bbox_cols)
    src = df.withColumn("__kql_rid", F.monotonically_increasing_id())
    matched = src.join(F.broadcast(lutp), cond, "inner")
    missing = src.join(matched.select("__kql_rid"), "__kql_rid", "left_anti")
    out = matched.unionByName(missing, allowMissingColumns=True)
    return out.drop("__kql_rid", *bbox_cols)


@plugin("schema_merge")
def _schema_merge(ptr, df, args):
    """`... | evaluate schema_merge()` [KQL]: merge getschema-shaped rows
    (e.g. `union (A | getschema), (B | getschema)`) into one schema.
    Same-named columns with one distinct type keep it; conflicting types
    yield `ERROR(conflicting types: a, b)` in DataType/ColumnType (Kusto
    marks conflicts with an ERROR(...) cell; the message text here is
    engine-shaped). Ordinals renumber by first appearance."""
    from pyspark.sql import Window as _W

    required = {"ColumnName", "ColumnOrdinal", "DataType", "ColumnType"}
    missing = required - set(df.columns)
    if missing:
        raise KqlSemanticError(
            f"schema_merge: input must be getschema-shaped (missing {sorted(missing)})"
        )
    merged = df.groupBy("ColumnName").agg(
        F.min("ColumnOrdinal").alias("__ord"),
        F.array_sort(F.collect_set("ColumnType")).alias("__types"),
        F.array_sort(F.collect_set("DataType")).alias("__dtypes"),
    )
    conflict = F.size("__types") > 1
    err = F.concat(
        F.lit("ERROR(conflicting types: "), F.array_join("__types", ", "), F.lit(")")
    )
    out = merged.select(
        "ColumnName",
        (
            F.row_number().over(_W.orderBy(F.col("__ord"), F.col("ColumnName"))) - 1
        ).alias("ColumnOrdinal"),
        F.when(conflict, err).otherwise(F.element_at("__dtypes", 1)).alias("DataType"),
        F.when(conflict, err).otherwise(F.element_at("__types", 1)).alias("ColumnType"),
    )
    return out


# ------------------------------------- external-connectivity plugins (§2.8)
# Kusto's request plugins reach outside the cluster (SQL/HTTP/CosmosDB/ADT)
# and `evaluate R` needs an R runtime; none are available in this engine's
# deployment model. Register them with a precise typed error so users get
# "not available here" instead of "unknown plugin".
def _external_plugin(name):
    @plugin(name)
    def _gated(ptr, df, args, _name=name):
        raise KqlUnsupportedError(
            f"evaluate {_name}(): external-connectivity plugins are not "
            "available in this engine (no outbound request path in the "
            "deployment model); materialize the remote data to parquet and "
            "use externaldata()/a catalog table instead"
        )
    return _gated


for _name in (
    "sql_request", "mysql_request", "postgresql_request", "http_request",
    "http_request_post", "cosmosdb_sql_request",
    "azure_digital_twins_query_request", "ai_embeddings", "ai_chat_completion",
    "ai_chat_completion_prompt",
):
    _external_plugin(_name)


@plugin("r")
def _r_plugin(ptr, df, args):
    """`evaluate r(...)` [KQL]: needs an R runtime, which this deployment
    does not ship; the Arrow-batched `evaluate python(...)` plugin is the
    supported escape hatch."""
    raise KqlUnsupportedError(
        "evaluate r(): no R runtime in this engine; use evaluate python() "
        "(KQL_ENGINE_ENABLE_PYTHON_PLUGIN=1) for custom batch logic"
    )


@plugin("sink_bucketed")
def _sink_bucketed(ptr, df, args):
    """`T | evaluate sink_bucketed('table', keycol[, buckets=32[, sortcol]])`
    — materialize the input as a hash-BUCKETED managed table
    (sinks.write_bucketed) and continue the pipe over the read-back scan.
    The bucketing metadata flows into the downstream plan, so joins and
    aggregations keyed on the bucket column run with ZERO Exchange — the
    100 TB co-location lever (round 12 measured -31% on the TPC-H q18
    pre-agg shape) surfaced as a query-language feature (round 13).

    Eager by design (the write is the action, like ann_index_build);
    mode=overwrite so re-running a pipeline refreshes the layout. Marked
    volatile so plans through it are never cached."""
    from ..ast_nodes import Lit
    from ..sinks import read_table, write_bucketed

    if not args or not isinstance(args[0], Lit) or not isinstance(args[0].value, str):
        raise KqlSemanticError(
            "sink_bucketed('table', keycol[, buckets[, sortcol]]): first "
            "argument must be a constant table name"
        )
    table = args[0].value
    import re

    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table):
        raise KqlSemanticError(
            f"sink_bucketed: invalid table name {table!r} (letters, digits "
            "and underscores only)"
        )
    if len(args) < 2 or not isinstance(args[1], Col):
        raise KqlSemanticError("sink_bucketed: second argument must be a column")
    key = args[1].name
    if key not in df.columns:
        raise KqlSemanticError(f"sink_bucketed: no column '{key}' in input")
    buckets = 32
    if len(args) > 2:
        if not isinstance(args[2], Lit) or not isinstance(args[2].value, int):
            raise KqlSemanticError("sink_bucketed: buckets must be an integer literal")
        buckets = int(args[2].value)
    sortcol = None
    if len(args) > 3:
        if not isinstance(args[3], Col) or args[3].name not in df.columns:
            raise KqlSemanticError("sink_bucketed: sortcol must be an input column")
        sortcol = args[3].name
    if df.isStreaming:
        raise KqlSemanticError("sink_bucketed: streaming input not supported")
    write_bucketed(df, table, buckets, key, sort_by=sortcol)
    return read_table(df.sparkSession, table)
