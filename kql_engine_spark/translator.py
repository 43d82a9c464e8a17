"""AST -> PySpark DataFrame translation (SURVEY.md §3.2 stage 4).

The translator builds Catalyst *unresolved logical plans* via the DataFrame
API — never SQL strings, never RDDs. Catalyst then owns pushdown, pruning,
join strategy, partial aggregation and AQE (SURVEY.md §4.1); only KQL
semantic deltas are handled here (SURVEY.md §4.2).

Scale notes (100 TB posture):
- Every relational operator lowers to a declarative DataFrame op, so filters
  written late in a KQL pipeline still reach the parquet scan via Catalyst.
- Joins lower to plain `df.join`; `hint.strategy=broadcast` maps to
  `F.broadcast`, `hint.num_partitions` to `repartition(n, keys)`.
- Serialized window functions without `by` require a global order — this is
  inherent to KQL semantics (single total order), and is flagged in docs;
  per-key windows (the common idiom) partition correctly.
"""

from __future__ import annotations

import fnmatch
import re
from contextlib import contextmanager as _contextmanager

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from .ast_nodes import (
    AsOp, Between, BinOp, Col, ConsumeOp, CountOp, DataTable, Distinct,
    Evaluate, Expr, Extend, ExternalData, Facet, FindSource, Fork, FuncCall,
    GetSchema, GraphMatch, InList, MakeGraph, ReduceOp,
    Invoke, Join, Lambda, Lit, Lookup, MakeSeries, MvApply, MvExpand,
    NamedExpr, ParseKv, ParseOp, ParseSlot, PartitionOp, Pipe, PipeSource,
    PrintSource, Project, ProjectAway, ProjectKeep, ProjectRename,
    ProjectReorder, Property, Query, RangeSource, Render, SampleDistinct,
    ScanOp, ToScalar,
    SampleOp, SearchOp, SearchSource, Serialize, Sort, SortKey, Star,
    Summarize, TableRef,
    Take, TabularOp, Top, TopHitters, TopNested, TypedLit, UnaryOp, Union,
    UnionSource, Where,
)
from .catalog import Catalog
from .errors import KqlSemanticError, KqlSyntaxError, KqlUnsupportedError
from .functions.aggregates import AGG_REGISTRY
from .functions.scalar import MULTI_OUTPUT
from .functions.scalar import REGISTRY as FN_REGISTRY
from .functions.scalar import typed_null
from .parser import parse
from .semantics import (
    KQL_CAST_NAME, KQL_TO_SPARK, interval_seconds, kql_type_name,
    lit_dynamic, parse_dynamic_literal, parse_kql_datetime,
)

_WINDOW_FNS = {
    "row_number", "prev", "next", "row_cumsum", "row_rank_min",
    "row_rank_dense", "row_window_session",
}

_NULLABLE_TYPE_CTORS = set(KQL_CAST_NAME) | {"time"}

# single-parse JSON projection (see PipeTranslator._shared_json_map):
# keys eligible for sharing must be plain identifiers — anything with dots,
# brackets, quotes or wildcards stays on the per-access get_json_object path
_JSON_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")
# extractjson paths eligible for sharing: exactly one top-level `$.key` hop
_JSON_TOP_KEY = re.compile(r"^\$\.([A-Za-z_][A-Za-z0-9_]*)$")


class ExprTranslator:
    """Translates scalar/aggregate expressions to Columns against a DataFrame."""

    def __init__(
        self,
        df: DataFrame | None,
        engine: "PipeTranslator",
        env: dict[str, Column] | None = None,
        window: Window | None = None,
        sides: dict[str, DataFrame] | None = None,
        agg_mode: bool = False,
        side_renames: dict[str, dict[str, str]] | None = None,
    ):
        self.df = df
        self.engine = engine
        self.env = env if env is not None else {}
        self.window = window
        self.sides = sides or {}
        self.agg_mode = agg_mode  # aggregate calls legal in this expression
        # per-side column renames (right-side collision suffixing in joins)
        self.side_renames = side_renames or {}

    # engine option passthroughs used by the registries
    def _opt_bool(self, name: str, default: bool) -> bool:
        """Boolean engine option, from kql(options=...) (plain bool) or a
        `set name = true/false;` statement (raw Lit expr — round 10 fix:
        a Lit(false) object is truthy, so `set exact_dcount = false;`
        silently stayed exact before this unwrapped it)."""
        v = self.engine.options.get(name, default)
        if isinstance(v, Lit):
            v = v.value
        if isinstance(v, str):
            return v.strip().lower() not in ("false", "0", "")
        return bool(v)

    @property
    def exact_dcount(self) -> bool:
        return self._opt_bool("exact_dcount", True)

    @property
    def exact_percentile(self) -> bool:
        return self._opt_bool("exact_percentile", True)

    # ------------------------------------------------------------- helpers
    def current_columns(self) -> list[str]:
        return list(self.df.columns) if self.df is not None else []

    def dtype_of(self, col: Column) -> T.DataType:
        try:
            if self.df is None:
                # no bound frame (print source): resolve against a 1-row frame
                return self.engine.spark.range(1).select(col).schema[0].dataType
            probe = self.df
            pre = self.engine.pending_prework
            if pre:
                # window helpers (row_rank_*, row_cumsum restart) stage
                # __kqlrank columns via pending_prework; the expression
                # references them BEFORE project/extend applies the stage,
                # so probe against a frame that carries them — previously
                # this path threw (and noisily ERROR-logged) an
                # AnalysisException per probe and answered NullType
                for name, c in pre.items():
                    probe = probe.withColumn(name, c)
            return probe.select(col).schema[0].dataType
        except Exception:
            return T.NullType()

    def dtype_of_ast(self, e: Expr, col: Column) -> T.DataType:
        """dtype lookup with a fast path: a plain column reference resolves
        against the (cached) schema without the per-call Py4J analysis
        roundtrip `df.select(col).schema` costs — plan BUILD time is a
        measurable share of small-query latency."""
        if isinstance(e, Col) and e.side is None and self.df is not None:
            if e.name not in self.env and e.name not in self.engine.lets:
                for f in self.df.schema.fields:
                    if f.name == e.name:
                        return f.dataType
        if isinstance(e, Lit):
            return KQL_TO_SPARK.get(e.ktype, T.NullType()) if e.ktype != "null" else T.NullType()
        if isinstance(e, TypedLit) and e.ktype in ("datetime", "timespan"):
            return KQL_TO_SPARK[e.ktype]
        return self.dtype_of(col)

    def const_value(self, e: Expr):
        if isinstance(e, Lit):
            return e.value
        if isinstance(e, UnaryOp) and e.op == "-" and isinstance(e.operand, Lit):
            return -e.operand.value
        raise KqlSemanticError(f"expected a constant, got {e!r}")

    def const_string(self, e: Expr) -> str:
        if isinstance(e, Lit) and e.ktype == "string":
            return str(e.value)
        if isinstance(e, Col):  # bare identifier used as constant (e.g. type name)
            return e.name
        raise KqlSemanticError(f"expected a string literal, got {e!r}")

    def const_typename(self, e: Expr) -> str:
        if isinstance(e, FuncCall) and e.name == "typeof" and e.args:
            return self.const_typename(e.args[0])
        if isinstance(e, Col):
            return e.name.lower()
        if isinstance(e, Lit) and e.ktype == "string":
            return str(e.value).lower()
        raise KqlSemanticError(f"expected a type name, got {e!r}")

    def const_seconds(self, e: Expr) -> float | None:
        """Timespan constant in seconds, or None if not a constant timespan."""
        if isinstance(e, Lit) and e.ktype == "timespan":
            return float(e.value)
        if isinstance(e, TypedLit) and e.ktype == "timespan":
            return _parse_timespan_raw(e.raw)
        if isinstance(e, UnaryOp) and e.op == "-":
            inner = self.const_seconds(e.operand)
            return -inner if inner is not None else None
        if isinstance(e, FuncCall) and e.name == "totimespan" and e.args:
            return self.const_seconds(e.args[0])
        return None

    def is_integer_literal(self, e: Expr) -> bool:
        return isinstance(e, Lit) and e.ktype == "long"

    # ---------------------------------------------------------- translation
    def to_col(self, e: Expr) -> Column:
        if isinstance(e, Lit):
            return self._lit(e)
        if isinstance(e, TypedLit):
            return self._typed_lit(e)
        if isinstance(e, Col):
            return self._col(e)
        if isinstance(e, Star):
            raise KqlSemanticError("'*' not valid here")
        if isinstance(e, UnaryOp):
            inner = self.to_col(e.operand)
            return -inner if e.op == "-" else ~inner
        if isinstance(e, BinOp):
            return self._binop(e)
        if isinstance(e, InList):
            return self._inlist(e)
        if isinstance(e, Between):
            lo = self.to_col(e.lo)
            hi = self.to_col(e.hi)
            c = self.to_col(e.expr)
            # duration form `x between (start .. 1d)` [KQL]: a timespan high
            # bound means start + duration
            hi_dt = self.dtype_of_ast(e.hi, hi)
            lo_dt = self.dtype_of_ast(e.lo, lo)
            if isinstance(hi_dt, T.DayTimeIntervalType) and not isinstance(
                lo_dt, T.DayTimeIntervalType
            ):
                hi = lo + hi
            out = (c >= lo) & (c <= hi)
            return ~out if e.negated else out
        if isinstance(e, Property):
            return self._property(e)
        if isinstance(e, FuncCall):
            return self._call(e)
        if isinstance(e, ToScalar):
            return self._toscalar(e)
        raise KqlSemanticError(f"cannot translate expression {e!r}")

    def _toscalar(self, e: ToScalar) -> Column:
        """Documented-eager (SURVEY §3.2): evaluates the inner tabular
        expression NOW and embeds the first cell as a literal. The inner
        result should be a 1-row aggregate; the extra job is the cost of the
        idiom, same as Kusto."""
        inner = self.engine.translate_pipe(e.pipe)
        rows = inner.limit(1).collect()
        if not rows or len(rows[0]) == 0:
            return F.lit(None)
        return F.lit(rows[0][0])

    def _lit(self, e: Lit) -> Column:
        if e.ktype == "timespan":
            return interval_seconds(float(e.value))
        if e.ktype == "long":
            # KQL integer literals are 64-bit [KQL §1.2]; Python ints lower to
            # Spark IntegerType by default. Constant-folded — no runtime cost.
            return F.lit(e.value).cast("bigint")
        return F.lit(e.value)

    def _typed_lit(self, e: TypedLit) -> Column:
        if e.ktype == "datetime":
            dt = parse_kql_datetime(e.raw)
            if dt is None:
                return F.lit(None).cast("timestamp")
            return F.lit(dt)
        if e.ktype == "timespan":
            secs = _parse_timespan_raw(e.raw)
            if secs is None:
                return F.lit(None).cast("interval day to second")
            return interval_seconds(secs)
        if e.ktype == "guid":
            s = e.raw.strip().strip("'\"")
            return F.lit(None).cast("string") if s.lower() == "null" else F.lit(s.lower())
        if e.ktype == "dynamic":
            return lit_dynamic(parse_dynamic_literal(e.raw))
        raise KqlSemanticError(f"unknown typed literal {e.ktype}")

    def _col(self, e: Col) -> Column:
        if e.side:
            side_df = self.sides.get(e.side)
            if side_df is None:
                raise KqlSemanticError(f"{e.side} only valid inside join conditions")
            name = self.side_renames.get(e.side, {}).get(e.name, e.name)
            return side_df[name]
        if e.name in self.env:
            return self.env[e.name]
        let_val = self.engine.lets.get(e.name)
        if let_val is not None and isinstance(let_val, Expr):
            return self.to_col(let_val)
        return F.col(e.name)

    def _binop(self, e: BinOp) -> Column:
        op = e.op
        if op == "and":
            return self.to_col(e.left) & self.to_col(e.right)
        if op == "or":
            return self.to_col(e.left) | self.to_col(e.right)
        # string predicate families (KQL default is case-insensitive [KQL])
        base = op.lstrip("!")
        negate = op.startswith("!") and base not in ("=",)
        if isinstance(e.left, Star):
            # `* has "term"` [KQL]: the predicate holds if ANY column
            # matches; negated forms (`* !has`) mean NO column matches
            pos_op = {"!=": "==", "!~": "=~"}.get(op, base)
            allowed = {
                "contains", "contains_cs", "startswith", "startswith_cs",
                "endswith", "endswith_cs", "has", "has_cs", "hasprefix",
                "hasprefix_cs", "hassuffix", "hassuffix_cs", "matches",
                "==", "=~",
            }
            if pos_op not in allowed:
                raise KqlSemanticError(f"'*' is not valid with operator {op!r}")
            if self.df is None:
                raise KqlSemanticError("'*' predicate requires a table context")
            cond = F.lit(False)
            for cname in self.df.columns:
                if cname.startswith(("__kql", "__row_order")):
                    continue
                c = self._binop(BinOp(pos_op, Col(cname), e.right))
                cond = cond | F.coalesce(c, F.lit(False))
            return ~cond if op.startswith("!") else cond
        if base in ("contains", "contains_cs"):
            lc = base.endswith("_cs")
            out = self._contains(e.left, e.right, cs=lc)
            return ~out if negate else out
        if base in ("startswith", "startswith_cs"):
            out = self._affix(e.left, e.right, cs=base.endswith("_cs"), kind="start")
            return ~out if negate else out
        if base in ("endswith", "endswith_cs"):
            out = self._affix(e.left, e.right, cs=base.endswith("_cs"), kind="end")
            return ~out if negate else out
        if base in ("has", "has_cs"):
            out = self._has(e.left, e.right, cs=base.endswith("_cs"))
            return ~out if negate else out
        if base in ("hasprefix", "hasprefix_cs"):
            out = self._has(e.left, e.right, cs=base.endswith("_cs"), mode="prefix")
            return ~out if negate else out
        if base in ("hassuffix", "hassuffix_cs"):
            out = self._has(e.left, e.right, cs=base.endswith("_cs"), mode="suffix")
            return ~out if negate else out
        if base == "matches":
            return F.regexp_like(
                self.to_col(e.left).cast("string"), self.to_col(e.right)
            )
        if base == "like":
            return self.to_col(e.left).like(self.const_string(e.right))
        l = self.to_col(e.left)
        r = self.to_col(e.right)
        if op == "==":
            return l == r
        if op in ("!=", "<>"):
            return l != r
        if op == "=~":
            return F.lower(l.cast("string")) == F.lower(r.cast("string"))
        if op == "!~":
            return F.lower(l.cast("string")) != F.lower(r.cast("string"))
        if op == "<":
            return l < r
        if op == "<=":
            return l <= r
        if op == ">":
            return l > r
        if op == ">=":
            return l >= r
        if op == "+":
            # KQL `+` concatenates when both operands are strings
            if isinstance(
                self.dtype_of_ast(e.left, l), T.StringType
            ) and isinstance(self.dtype_of_ast(e.right, r), T.StringType):
                return F.concat(l, r)
            return l + r
        if op == "-":
            return l - r
        if op == "*":
            return l * r
        if op == "/":
            return self._divide(e, l, r)
        if op == "%":
            return l % r
        raise KqlSemanticError(f"unknown operator {op!r}")

    def _divide(self, e: BinOp, l: Column, r: Column) -> Column:
        # KQL: int/long division yields real (1/2 = 0.5) [KQL §1.2];
        # timespan/timespan yields real; others pass through.
        lt = self.dtype_of_ast(e.left, l)
        rt = self.dtype_of_ast(e.right, r)
        integral = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        if isinstance(lt, T.DayTimeIntervalType) and isinstance(rt, T.DayTimeIntervalType):
            from .semantics import timespan_seconds_of

            return timespan_seconds_of(l) / timespan_seconds_of(r)
        if isinstance(lt, integral) and isinstance(rt, integral):
            return l.cast("double") / r.cast("double")
        return l / r

    def _contains(self, left: Expr, right: Expr, cs: bool) -> Column:
        l = self.to_col(left).cast("string")
        r = self.to_col(right).cast("string")
        if cs:
            return F.instr(l, r) >= 1
        return F.instr(F.lower(l), F.lower(r)) >= 1

    def _affix(self, left: Expr, right: Expr, cs: bool, kind: str) -> Column:
        l = self.to_col(left).cast("string")
        r = self.to_col(right).cast("string")
        if not cs:
            l, r = F.lower(l), F.lower(r)
        return F.startswith(l, r) if kind == "start" else F.endswith(l, r)

    def _has(self, left: Expr, right: Expr, cs: bool, mode: str = "term") -> Column:
        """KQL term matching: whole alphanumeric-token equality. Public
        approximation: regex word boundaries (SURVEY.md §2.9 `has`)."""
        l = self.to_col(left).cast("string")
        if isinstance(right, Lit):
            raw = str(right.value)
            term = re.escape(raw)
            if mode == "term":
                pat = rf"\b{term}\b"
            elif mode == "prefix":
                pat = rf"\b{term}"
            else:
                pat = rf"{term}\b"
            if not cs:
                pat = "(?i)" + pat
            rx = F.regexp_like(l, F.lit(pat))
            if not raw:
                return rx
            # substring prefilter (round 10): a whole-term regex match
            # implies the bare substring is present — (?i) folds ASCII
            # case only, lower() folds that too, and non-ASCII chars must
            # match exactly — so contains() is a strict superset and the
            # conjunction short-circuits the regex for non-matching rows
            # (A/B sf10 documents `has` scan: 2.38 -> 1.92 s even at 78%
            # term selectivity; the absent-term branch is near-free).
            # ci prefilter only for pure-ASCII terms: lower() is
            # context-sensitive beyond ASCII (Final_Sigma — a trailing
            # 'Σ' lowers to 'ς' in the term but 'σ' mid-word in the
            # text), which would break the superset property and drop
            # real matches. cs needs no case fold, so any term is safe.
            if cs:
                pre = F.contains(l, F.lit(raw))
            elif raw.isascii():
                pre = F.contains(F.lower(l), F.lit(raw.lower()))
            else:
                return rx
            return pre & rx
        # non-literal term: build the regex dynamically, JVM-side
        r = self.to_col(right).cast("string")
        escaped = F.regexp_replace(r, r"([\\.\[\]\{\}\(\)\*\+\?\^\$\|])", r"\\$1")
        prefix = F.lit("(?i)" if not cs else "")
        if mode == "term":
            pat = F.concat(prefix, F.lit(r"\b"), escaped, F.lit(r"\b"))
        elif mode == "prefix":
            pat = F.concat(prefix, F.lit(r"\b"), escaped)
        else:
            pat = F.concat(prefix, escaped, F.lit(r"\b"))
        return F.regexp_like(l, pat)

    def _inlist(self, e: InList) -> Column:
        c = self.to_col(e.expr)
        if e.table is not None:
            # tabular `in` outside a where-conjunct (under `or`, in project):
            # documented-eager like toscalar — collect the first column's
            # distinct values NOW, bounded by Kusto's own 1,000,000-value
            # `in` limit [KQL]. Where-conjuncts take the lazy semi-join path
            # in t_where instead.
            inner = self.engine.translate_pipe(e.table)
            first = inner.columns[0]
            rows = inner.select(first).distinct().limit(1_000_001).collect()
            if len(rows) > 1_000_000:
                raise KqlSemanticError(
                    "in (tabular): operand exceeds 1,000,000 distinct values"
                )
            vals = [r[0] for r in rows]
            if e.ci:
                c2 = F.lower(c.cast("string"))
                out = c2.isin(
                    *[str(v).lower() for v in vals if v is not None]
                ) if vals else F.lit(False)
            else:
                out = c.isin(*vals) if vals else F.lit(False)
            return ~out if e.negated else out
        vals = [self.to_col(i) for i in e.items]
        # array-typed operands (`x in (dynamic([...]))`, range(...)) test
        # membership in the array's elements [KQL]
        arrays = [
            v
            for i, v in zip(e.items, vals)
            if isinstance(self.dtype_of_ast(i, v), T.ArrayType)
        ]
        if arrays:
            scalars = [
                v
                for i, v in zip(e.items, vals)
                if not isinstance(self.dtype_of_ast(i, v), T.ArrayType)
            ]
            if e.ci:
                cl = F.lower(c.cast("string"))
                out = F.lit(False)
                for a in arrays:
                    out = out | F.array_contains(
                        F.transform(a, lambda x: F.lower(x.cast("string"))), cl
                    )
                for v in scalars:
                    out = out | (cl == F.lower(v.cast("string")))
            else:
                out = F.lit(False)
                for a in arrays:
                    out = out | F.array_contains(a, c)
                if scalars:
                    out = out | c.isin(*scalars)
            out = F.coalesce(out, F.lit(False))
            return ~out if e.negated else out
        if e.ci:
            c = F.lower(c.cast("string"))
            vals = [F.lower(v.cast("string")) for v in vals]
        out = c.isin(*vals)
        return ~out if e.negated else out

    def _property(self, e: Property) -> Column:
        base = self.to_col(e.base)
        dt = self.dtype_of_ast(e.base, base)
        key = e.key
        if isinstance(dt, T.ArrayType):
            idx = self.to_col(key).cast("int")
            # KQL arrays are 0-based; a negative index counts from the END
            # (arr[-1] = last), which is Spark's native negative element_at
            return F.when(
                idx >= 0, F.element_at(base, idx + F.lit(1))
            ).otherwise(F.element_at(base, idx))
        if isinstance(dt, T.MapType):
            return F.element_at(base, self.to_col(key))
        if isinstance(dt, T.StructType):
            return base[self.const_string(key)]
        if isinstance(dt, T.VariantType) if hasattr(T, "VariantType") else False:
            path = f"$.{self.const_string(key)}"
            return F.try_variant_get(base, path, "string")
        # JSON-text dynamic carrier
        if isinstance(key, Lit) and key.ktype == "string":
            if (
                isinstance(e.base, Col)
                and e.base.side is None
                and e.base.name not in self.env
            ):
                shared = self.engine.json_shared.get(
                    (e.base.name, str(key.value))
                )
                if shared is not None:
                    return shared
            return F.get_json_object(base.cast("string"), f"$.{key.value}")
        idx_val = int(self.const_value(key))
        if idx_val < 0:
            # JSONPath has no from-the-end index: materialize the array and
            # use native negative element_at (KQL: arr[-1] = last, null OOB)
            arr = F.from_json(base.cast("string"), "array<string>")
            return F.element_at(arr, F.lit(idx_val))
        return F.get_json_object(base.cast("string"), f"$[{idx_val}]")

    def _call(self, e: FuncCall) -> Column:
        name = e.name
        if self.agg_mode and name in AGG_REGISTRY:
            # scalar-over-aggregate expression, e.g. sum(a)/count()
            return AGG_REGISTRY[name](self, e.args, None)[0][1]
        # typed null / special literals: long(null), real(+inf), int(null)
        if name in _NULLABLE_TYPE_CTORS and len(e.args) == 1:
            arg = e.args[0]
            if isinstance(arg, Col) and arg.name.lower() == "null":
                return typed_null(name if name != "time" else "timespan")
            if name == "real" and isinstance(arg, (Col, UnaryOp)):
                sval = _inf_name(arg)
                if sval is not None:
                    return F.lit(sval)
            # typed literal ctor with a constant: long(7), real(2.5),
            # int(-3), bool(true) [KQL literal forms]. datetime/guid/time
            # raw forms are TypedLits handled upstream.
            if name in ("bool", "int", "long", "real", "double", "decimal") and (
                isinstance(arg, Lit)
                or (
                    isinstance(arg, UnaryOp)
                    and arg.op == "-"
                    and isinstance(arg.operand, Lit)
                )
            ):
                v = self.const_value(arg)
                if not isinstance(v, str):
                    return F.lit(v).cast(KQL_CAST_NAME[name])
        if name in _WINDOW_FNS:
            return self._window_call(e)
        if name in self.engine.lets and isinstance(self.engine.lets[name], Lambda):
            lam: Lambda = self.engine.lets[name]
            sub_env = dict(self.env)
            for (pname, _ptype), arg in zip(lam.params, e.args):
                sub_env[pname] = self.to_col(arg)
            for pname, _ptype in lam.params[len(e.args):]:
                if pname not in lam.defaults:
                    raise KqlSemanticError(
                        f"{name}: missing argument for parameter {pname!r}"
                    )
                sub_env[pname] = self.to_col(lam.defaults[pname])
            sub = ExprTranslator(self.df, self.engine, sub_env, self.window, self.sides)
            return sub.to_col(lam.body)
        fn = FN_REGISTRY.get(name)
        if fn is None:
            raise KqlUnsupportedError(f"unknown function: {name!r}")
        return fn(self, e.args)

    def _window_call(self, e: FuncCall) -> Column:
        w = self.window
        if w is None:
            raise KqlSemanticError(
                f"window function {e.name}() requires a serialized table "
                "(use 'serialize', 'sort by' or 'top' first) [KQL]"
            )
        name = e.name
        if name == "row_number":
            start = int(self.const_value(e.args[0])) if e.args else 1
            rn = F.row_number().over(w)
            if len(e.args) >= 2:
                # restart predicate [KQL row_number]: rn restarts where pred is
                # true. Single-pass formulation over one window ordering:
                # rn - (row_number at the last restart) + start
                pred = self.to_col(e.args[1])
                flag = F.when(pred, rn)
                frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                last_restart = F.coalesce(F.max(flag).over(frame), F.lit(1))
                return rn - last_restart + F.lit(start)
            return rn + F.lit(start - 1)
        if name in ("row_rank_min", "row_rank_dense"):
            # ranks follow the SERIALIZED order, not Term ascending (a desc
            # sort must yield desc ranks). Window-in-window is illegal, so
            # helpers stage via prework (applied sequentially, so stages may
            # chain). Optional restart predicate opens a new rank segment
            # AT the matching row [KQL row_rank_min/row_rank_dense].
            term = self.to_col(e.args[0])
            order = self.engine.order or [F.lit(1)]
            if len(e.args) > 1:
                frame_g = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                pred = self.to_col(e.args[1])
                seg = f"__kqlrankseg{len(self.engine.pending_prework)}"
                self.engine.pending_prework[seg] = F.sum(
                    F.when(pred, 1).otherwise(0)
                ).over(frame_g)
                w = Window.partitionBy(F.col(seg)).orderBy(*order)
                seg_cols = [F.col(seg)]
            else:
                seg_cols = []
            if name == "row_rank_min":
                # minimal serialized row number at which the current Term
                # value appears (within the segment)
                rn_name = f"__kqlrank{len(self.engine.pending_prework)}"
                self.engine.pending_prework[rn_name] = F.row_number().over(w)
                return (
                    F.min(F.col(rn_name))
                    .over(Window.partitionBy(*seg_cols, term))
                    .cast("long")
                )
            # dense: starts at 1, +1 whenever Term CHANGES between
            # consecutive serialized rows
            chg_name = f"__kqlrank{len(self.engine.pending_prework)}"
            self.engine.pending_prework[chg_name] = F.when(
                F.lag(term, 1).over(w).eqNullSafe(term), 0
            ).otherwise(1)
            frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            return F.sum(F.col(chg_name)).over(frame).cast("long")
        if name in ("prev", "next"):
            shift = F.lag if name == "prev" else F.lead
            off = int(self.const_value(e.args[1])) if len(e.args) > 1 else 1
            shifted = shift(self.to_col(e.args[0]), off).over(w)
            if len(e.args) <= 2:
                return shifted
            # default substitutes ONLY out-of-bounds rows, never stored nulls
            # [KQL prev/next]: detect bounds via a shifted constant marker
            default = self.to_col(e.args[2])
            marker = shift(F.lit(1), off).over(w)
            return F.when(marker.isNotNull(), shifted).otherwise(default)
        if name == "row_cumsum":
            frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            term = self.to_col(e.args[0])
            if len(e.args) <= 1:
                return F.sum(term).over(frame)
            # restart=true begins a new accumulation AT that row [KQL]:
            # materialize a segment id (cumulative restart count) in a
            # pre-pass, then cumsum per segment
            pred = self.to_col(e.args[1])
            seg_name = f"__kqlseg{len(self.engine.pending_prework)}"
            self.engine.pending_prework[seg_name] = F.sum(
                F.when(pred, 1).otherwise(0)
            ).over(frame)
            w2 = Window.partitionBy(F.col(seg_name)).orderBy(
                *(self.engine.order or [F.lit(1)])
            ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
            return F.sum(term).over(w2)
        if name == "row_window_session":
            # row_window_session(Expr, MaxDistanceFromFirst, MaxGap) [KQL] —
            # session breaks on gap > MaxGap (MaxDistanceFromFirst is not
            # enforced in v1, documented delta)
            ts = self.to_col(e.args[0])
            max_gap = self.const_seconds(e.args[2] if len(e.args) > 2 else e.args[1])
            gap = (
                F.unix_micros(ts.cast("timestamp"))
                - F.unix_micros(F.lag(ts, 1).over(w).cast("timestamp"))
            ) / 1e6
            new_session = F.when(gap.isNull() | (gap > F.lit(max_gap)), 1).otherwise(0)
            frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            sid = F.sum(new_session).over(frame)
            return F.first(ts).over(
                self.engine.window_partitioned(sid)
            )
        raise KqlUnsupportedError(f"window function {name} not implemented")


def _inf_name(arg: Expr) -> float | None:
    if isinstance(arg, Col) and arg.name.lower() in ("inf", "infinity"):
        return float("inf")
    if (
        isinstance(arg, UnaryOp)
        and arg.op == "-"
        and isinstance(arg.operand, Col)
        and arg.operand.name.lower() in ("inf", "infinity")
    ):
        return float("-inf")
    if isinstance(arg, Col) and arg.name.lower() == "nan":
        return float("nan")
    return None


def _parse_timespan_raw(raw: str) -> float | None:
    s = raw.strip().strip("'\"")
    if not s or s.lower() == "null":
        return None
    m = re.match(r"^(?:(\d+)\.)?(\d{1,2}):(\d{2})(?::(\d{2}(?:\.\d+)?))?$", s)
    if m:
        days = int(m.group(1) or 0)
        return (
            days * 86400 + int(m.group(2)) * 3600 + int(m.group(3)) * 60
            + float(m.group(4) or 0)
        )
    from .lexer import TIMESPAN, tokenize

    toks = tokenize(s)
    if len(toks) == 2 and toks[0].kind == TIMESPAN:
        return float(toks[0].value)
    if len(toks) == 2 and toks[0].kind in ("INT", "REAL"):
        return float(toks[0].value) * 86400.0
    raise KqlSemanticError(f"bad timespan literal: {raw!r}")


class PipeTranslator:
    """Translates a full KQL query to a DataFrame."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: Catalog,
        options: dict | None = None,
        streaming: bool = False,
        small_plan: bool = False,
        single_task: bool = False,
    ):
        self.spark = spark
        self.catalog = catalog
        # small-plan mode (total source bytes under _SMALL_QUERY_BYTES):
        # physical choices trade parallelism for fewer stages/tasks —
        # global sorts become single-partition sorts (no range-partitioner
        # sampling job; the whole input fits in one task by construction)
        self.small_plan = small_plan
        # single-task mode (round 17, guide §2.4 "remove shuffles
        # outright"): small_plan AND every file source is a single parquet
        # row group, so the scan runs as ONE real task no matter the split
        # size — the exchanges after it buy zero parallelism and cost a
        # full stage boundary (serialize + fetch + schedule) each. Each
        # catalog scan is coalesced to 1 partition; SinglePartition
        # satisfies every clustering requirement, so aggregations, windows
        # and sort all plan with ZERO Exchange. Accumulation order equals
        # the current plans' (the one real scan task already computed
        # every partial aggregate), so results are bit-identical. Never
        # taken at scale: a real table has many row groups.
        self.single_task = single_task
        # (sorted_df, source_df, cols) of the latest small-plan sort, so a
        # directly-following take can rebuild as TakeOrderedAndProject
        self._small_sorted: tuple | None = None
        # True once the pipeline passed through an op whose ROW SELECTION
        # is not deterministic across re-executions (take/limit without a
        # total order, tie-broken sort|take, innerunique's arbitrary
        # surviving row). The split-distinct rewrite re-executes the
        # upstream plan once per aggregation piece, so under such an op
        # each piece could aggregate DIFFERENT rows — it must bail to the
        # fused single-scan plan (round 11). Sticky for the whole query:
        # a nondeterministic join side taints the joined rows too.
        self._rowset_nondet = False
        # Source-bytes upper estimate of the CURRENT pipeline's data
        # (round 10, auto-broadcast): on-disk bytes of the sources feeding
        # it, None = unknown/assume big. Filters/aggregations shrink a
        # side and extend/project adds row-bounded columns (unbounded
        # growth calls screened via _GROWTH_FNS), so source bytes stay a
        # heuristic upper estimate; row-expanding ops (mv-expand,
        # evaluate, ...) reset to None. t_join reads it for both sides to
        # place a broadcast hint where Catalyst's no-stats product
        # estimate picks the wrong side.
        self._src_bytes: int | None = None
        # the value _src_bytes held when the most recent nested
        # translate_pipe finished (translate_pipe restores the outer
        # value; join/lookup/source consumers read the nested result here)
        self._last_pipe_bytes: int | None = None
        # Pipeline SHAPE tail (round 12): "agg" after a summarize,
        # "agg_filtered" once a where follows it (projections keep the
        # state, anything else clears it). t_join reads it to spot the
        # filtered-aggregate join side — an output whose size static
        # estimates cannot see (the filter's selectivity is runtime
        # knowledge). Such a side gets a rebalance-by-join-key hint so
        # AQE measures its ACTUAL size at the stage boundary and can
        # convert the join to broadcast (TPC-H Q18's `big`: 15M groups
        # statically, 47k rows at runtime). Lifecycle mirrors _src_bytes.
        self._shape: str | None = None
        self._last_pipe_shape: str | None = None
        # copied: `set` statements write query-scoped overrides into it
        self.options = dict(options) if options else {}
        self.streaming = streaming
        self.lets: dict[str, object] = {}
        self.named_results: dict[str, DataFrame] = {}
        self._named_result_bytes: dict[str, int | None] = {}
        # pre-pass columns some window rewrites need materialized before the
        # main projection (e.g. row_cumsum restart segment ids); consumed by
        # t_extend / t_project
        self.pending_prework: dict[str, Column] = {}
        # single-parse JSON routing (round 7): (base column, top-level key)
        # -> field access on a staged from_json struct; populated per
        # project/extend by _shared_json_map, consulted by Property /
        # extractjson lowering
        self.json_shared: dict[tuple[str, str], Column] = {}
        # serialized-order state (SURVEY.md §2.7): sort keys currently in force
        self.order: list[Column] | None = None
        self.order_desc_first: list[tuple[Column, bool]] = []

    # ------------------------------------------------------------ window ctx
    def current_window(self) -> Window | None:
        if self.order is None:
            return None
        return Window.orderBy(*self.order)

    def window_ordered_by(self, col: Column) -> Window:
        return Window.orderBy(col.asc())

    def window_partitioned(self, part: Column) -> Window:
        return Window.partitionBy(part).orderBy(*(self.order or [F.lit(1)]))

    # -------------------------------------------------------------- translate
    def translate_query(self, q: Query) -> DataFrame:
        # `set name = value;` query properties override session options;
        # values stay raw Exprs so consumers (bin_auto) can interpret
        # timespan/datetime literals with const_seconds/const_value
        for k, v in q.sets.items():
            self.options[k] = v
        # `declare query_parameters(...)`: supplied values (options dict)
        # win over declared defaults; missing with no default is an error
        supplied = self.options.get("query_parameters") or {}
        for pname, ptype, default in q.params:
            if pname in supplied:
                self.lets[pname] = _param_literal(supplied[pname], ptype)
            elif default is not None:
                self.lets[pname] = default
            else:
                raise KqlSemanticError(
                    f"query parameter {pname!r} not supplied (pass "
                    "options={'query_parameters': {...}}) and has no default"
                )
        for let in q.lets:
            self.lets[let.name] = let.value
        # ingestion-metadata functions (ingestion_time/extent_id/extent_tags/
        # cursor_after/cursor_before_or_at) need the hidden `_metadata` file
        # columns attached at the scan; detect usage on the parsed AST so
        # every other query keeps its exact source schema
        self.want_ingest_meta = any(
            isinstance(n, FuncCall) and n.name.lower() in _INGEST_META_FUNCS
            for n in _walk_ast(q)
        )
        df = self.translate_pipe(q.pipe)
        # engine-internal helper columns never escape to the user
        internal = [c for c in df.columns if c.startswith(("__row_order", "__kql"))]
        if internal:
            df = df.drop(*internal)
        # `set truncationmaxrecords = N;` [KQL]: bound the result set (the
        # service-side truncation safeguard; `set notruncation;` disables
        # it). Lowered to limit(N) — Catalyst pushes it into the plan.
        trunc = self.options.get("truncationmaxrecords")
        if trunc is not None and "notruncation" not in self.options:
            tr = ExprTranslator(None, self)
            try:
                n = int(tr.const_value(trunc)) if isinstance(trunc, Expr) else int(trunc)
            except (TypeError, ValueError):
                raise KqlSemanticError(
                    "truncationmaxrecords must be a constant integer"
                ) from None
            if n < 0:
                raise KqlSemanticError("truncationmaxrecords must be >= 0")
            df = df.limit(n)
        return df

    def translate_pipe(self, pipe: Pipe) -> DataFrame:
        # isolate per-clause expression state from nested pipe translations
        # (toscalar, tabular `in`, join sides): a nested clause must never
        # resolve a property access against the OUTER clause's staged
        # __kqlseg_json columns — they don't exist on the nested DataFrame —
        # and (round 8) the nested translate_source resetting the
        # serialized-order state must not clobber the OUTER pipe's order
        # (`sort by ts | extend x = toscalar(...), r = row_number()` raised
        # a spurious needs-serialization error)
        saved_shared, saved_pre = self.json_shared, self.pending_prework
        saved_order, saved_odf = self.order, self.order_desc_first
        saved_bytes = self._src_bytes
        saved_shape = self._shape
        self.json_shared, self.pending_prework = {}, {}
        try:
            df = self.translate_source(pipe.source)
            for op in pipe.ops:
                df = self.translate_op(df, op)
            return df
        finally:
            self.json_shared, self.pending_prework = saved_shared, saved_pre
            self.order, self.order_desc_first = saved_order, saved_odf
            # expose this pipe's source-bytes result to the caller (join
            # sides, pipe-sources), then restore the outer pipeline's
            self._last_pipe_bytes = self._src_bytes
            self._src_bytes = saved_bytes
            self._last_pipe_shape = self._shape
            self._shape = saved_shape

    def translate_source(self, src) -> DataFrame:
        self.order = None
        # default: unknown source size (auto-broadcast treats None as big);
        # branches that can bound their bytes set it below
        self._src_bytes = None
        self._last_pipe_bytes = None
        self._shape = None
        if isinstance(src, TableRef):
            if src.args is not None:
                df = self._call_tabular_function(src.name, src.args)
                self._src_bytes = self._last_pipe_bytes
                self._shape = self._last_pipe_shape
                return df
            return self._resolve_table(src.name)
        if isinstance(src, PipeSource):
            df = self.translate_pipe(src.pipe)
            self._src_bytes = self._last_pipe_bytes
            self._shape = self._last_pipe_shape
            return df
        if isinstance(src, DataTable):
            df = self._datatable(src)
            # literal rows: bounded by the query text itself
            self._src_bytes = 4096
            return df
        if isinstance(src, PrintSource):
            self._src_bytes = 1024
            tr = ExprTranslator(None, self)
            cols = []
            for i, item in enumerate(src.items):
                name = item.name or (
                    item.expr.name if isinstance(item.expr, Col) else f"print_{i}"
                )
                cols.append(tr.to_col(item.expr).alias(name))
            return self.spark.range(1).select(*cols)
        if isinstance(src, RangeSource):
            return self._range_source(src)
        if isinstance(src, UnionSource):
            pipes = self._expand_union_wildcards(src.pipes)
            dfs = self._union_operand_frames(pipes, src.isfuzzy)
            if not dfs:
                raise KqlSemanticError("union isfuzzy=true: no operand resolved")
            return self._union(dfs, src.kind, src.withsource)
        if isinstance(src, FindSource):
            return self._find_source(src)
        if isinstance(src, SearchSource):
            # query-initial search: `in (...)` names the tables; without it,
            # Kusto searches the whole database — here, every catalog table
            tables = src.op.tables
            if tables is None:
                tables = self.catalog.names()
            return self._search_tables(src.op, tables)
        if isinstance(src, ExternalData):
            schema = T.StructType(
                [T.StructField(n, KQL_TO_SPARK[t.lower()], True) for n, t in src.schema]
            )
            fmtl = src.fmt.lower()
            # Kusto's delimiter formats are all Spark csv with a sep [KQL]
            seps = {"tsv": "\t", "psv": "|", "scsv": ";", "sohsv": "\x01"}
            fmt = {"txt": "text", "raw": "text", "multijson": "json"}.get(
                fmtl, "csv" if fmtl in seps else fmtl
            )
            reader = self.spark.read.format(fmt).schema(schema)
            if fmtl in seps:
                reader = reader.option("sep", seps[fmtl])
            if fmtl == "multijson":
                reader = reader.option("multiLine", "true")
            if fmt == "csv" and str(
                src.options.get("ignoreFirstRecord", "")
            ).lower() in ("true", "1"):
                # explicit schema + header=true: Spark skips the first line
                # per file and keeps the declared column names/types
                reader = reader.option("header", "true")
            return reader.load(src.uris)
        raise KqlUnsupportedError(f"unsupported source {type(src).__name__}")

    def _call_tabular_function(self, name: str, args: list) -> DataFrame:
        """Stored-function source call `f(3) | ...` [KQL]: every parameter
        is scalar (no piped table); omitted trailing args take the lambda's
        declared defaults; the body pipe translates with the parameters
        bound as let expressions."""
        lname = name.lower()
        if lname in ("external_table", "materialized_view"):
            # `external_table('name')` / `materialized_view('name')` [KQL]:
            # catalog-bound source references (registered via
            # Catalog.register_external / register_matview)
            if len(args) != 1 or not isinstance(args[0], Lit) or not isinstance(
                args[0].value, str
            ):
                raise KqlSemanticError(
                    f"{lname}() takes a single constant string name"
                )
            getter = getattr(self.catalog, lname)
            return getter(args[0].value)
        bound = self.lets.get(name)
        if not isinstance(bound, Lambda) or not isinstance(bound.body, Pipe):
            raise KqlSemanticError(
                f"{name!r} is not a tabular function (let {name} = "
                "(params) { T | ... })"
            )
        saved_lets = dict(self.lets)
        for (pname, _), arg in zip(bound.params, args):
            self.lets[pname] = arg
        for pname, _ in bound.params[len(args):]:
            if pname not in bound.defaults:
                raise KqlSemanticError(
                    f"{name}: missing argument for parameter {pname!r}"
                )
            self.lets[pname] = bound.defaults[pname]
        try:
            return self.translate_pipe(bound.body)
        finally:
            self.lets = saved_lets

    def _resolve_table(self, name: str) -> DataFrame:
        if name in self.named_results:
            self._src_bytes = self._named_result_bytes.get(name)
            return self.named_results[name]
        bound = self.lets.get(name)
        if bound is not None:
            if isinstance(bound, Pipe):
                if bound.materialize:
                    # materialize(): evaluate once, share across references
                    # [KQL]. persist() (not collect) — distributed cache,
                    # lazily filled on first action, reused by every
                    # downstream reference in the query. Registered in a
                    # bounded per-session list so executor storage can't
                    # accumulate across many materialize() queries (round-5
                    # ADVICE fix): the oldest persist is dropped at the cap.
                    df = self.translate_pipe(bound).persist()
                    _register_persist(self.spark, df)
                    self.named_results[name] = df
                    self._named_result_bytes[name] = self._last_pipe_bytes
                    self._src_bytes = self._last_pipe_bytes
                    return df
                df = self.translate_pipe(bound)
                self._src_bytes = self._last_pipe_bytes
                self._shape = self._last_pipe_shape
                return df
            if isinstance(bound, Col):
                return self._resolve_table(bound.name)
            if (
                isinstance(bound, Lambda)
                and isinstance(bound.body, Pipe)
                and all(p in bound.defaults for p, _ in bound.params)
            ):
                # `let v = view () { T | ... }; v | ...` [KQL]: a view (or a
                # fully-defaulted tabular lambda) referenced by bare name
                # invokes with its defaults
                out = self._call_tabular_function(name, [])
                self._src_bytes = self._last_pipe_bytes
                return out
            raise KqlSemanticError(f"let {name!r} is not tabular")
        df = self.catalog.table(name, streaming=self.streaming)
        self._src_bytes = self.catalog.file_size(name)
        if (
            getattr(self, "want_ingest_meta", False)
            and not self.streaming
            and self.catalog.file_size(name) is not None
        ):
            # extent = data file: ingestion time is the file's modification
            # timestamp, extent id derives from its path (scalar.py
            # ingestion-metadata family). `_metadata` is Spark's hidden
            # file-source column — resolvable through the catalog's
            # ns-timestamp rewrites, pruned away when unused.
            df = df.select(
                "*",
                F.col("_metadata.file_modification_time")
                .cast("timestamp")
                .alias("__kql_ingest_ts"),
                F.col("_metadata.file_path").alias("__kql_extent_path"),
            )
        if self.single_task and not self.streaming:
            # one real scan task by construction (single row group; see
            # __init__) — fold the empty sibling splits into it so every
            # downstream clustering requirement is already satisfied
            df = df.coalesce(1)
        return df

    def _find_source(self, src: FindSource) -> DataFrame:
        """`find in (T1, ...) where pred` [KQL §2.13]: per-table filter +
        union kind=outer with provenance. Tables whose schema lacks a column
        the predicate references are skipped (KQL: no match there)."""
        from .ast_nodes import Between as _Between
        from .ast_nodes import InList as _InList

        def cols_of(e: Expr) -> set[str]:
            out: set[str] = set()
            stack = [e]
            while stack:
                x = stack.pop()
                if isinstance(x, Col) and x.side is None:
                    out.add(x.name)
                elif isinstance(x, BinOp):
                    stack.extend([x.left, x.right])
                elif isinstance(x, UnaryOp):
                    stack.append(x.operand)
                elif isinstance(x, FuncCall):
                    stack.extend(x.args)
                elif isinstance(x, _InList):
                    stack.append(x.expr)
                    stack.extend(x.items)
                elif isinstance(x, _Between):
                    stack.extend([x.expr, x.lo, x.hi])
                elif isinstance(x, Property):
                    stack.append(x.base)
            return out

        def substitute_missing(e: Expr, have: set[str]) -> Expr:
            """References to columns a table lacks become null literals —
            KQL find evaluates the predicate per-table with missing columns
            as null (comparisons yield null -> row not matched there)."""
            if isinstance(e, Col) and e.side is None and e.name not in have:
                return Lit(None, "null")
            if isinstance(e, BinOp):
                return BinOp(e.op, substitute_missing(e.left, have),
                             substitute_missing(e.right, have))
            if isinstance(e, UnaryOp):
                return UnaryOp(e.op, substitute_missing(e.operand, have))
            if isinstance(e, FuncCall):
                return FuncCall(e.name, [substitute_missing(a, have) for a in e.args])
            if isinstance(e, _InList):
                return _InList(substitute_missing(e.expr, have),
                               e.items, e.negated, e.ci)
            if isinstance(e, _Between):
                return _Between(substitute_missing(e.expr, have), e.lo, e.hi, e.negated)
            return e

        src_col = src.withsource or "source_"
        if src.term is not None:
            # bare-term form: `search` term semantics across every string
            # column of each table (lenient — tables without string columns
            # simply contribute nothing)
            from .ast_nodes import SearchTerm as _SearchTerm

            leaf = _SearchTerm(Lit(src.term, "string"))
            tables = src.tables or self.catalog.names()
            frames = [
                (
                    t,
                    self._resolve_table(t).filter(
                        self._search_cond(
                            self._resolve_table(t), leaf, True, lenient=True
                        )
                    ),
                )
                for t in tables
            ]
            if src.project:
                from .ast_nodes import NamedExpr as _NamedExpr

                projected = []
                for t, fdf in frames:
                    have = set(fdf.columns)
                    proj = [
                        _NamedExpr(ne.name, substitute_missing(ne.expr, have))
                        for ne in src.project
                    ]
                    items = self._named_items(fdf, proj)
                    projected.append((t, fdf.select(*[c.alias(n) for n, c in items])))
                frames = projected
            return self._union(frames, "outer", src_col)

        needed = cols_of(src.pred)
        frames: list[tuple[str, DataFrame]] = []
        for t in src.tables:
            df = self._resolve_table(t)
            have = set(df.columns)
            if needed and not (needed & have):
                continue  # predicate cannot match anything in this table
            pred = substitute_missing(src.pred, have)
            filtered = df.filter(self.expr_tr(df).to_col(pred))
            if src.project:
                # projected columns a table lacks become nulls (KQL find
                # pads the union schema), same rule as the predicate
                from .ast_nodes import NamedExpr as _NamedExpr

                proj = [
                    _NamedExpr(ne.name, substitute_missing(ne.expr, have))
                    for ne in src.project
                ]
                items = self._named_items(filtered, proj)
                filtered = filtered.select(*[c.alias(n) for n, c in items])
            frames.append((t, filtered))
        if not frames:
            raise KqlSemanticError("find: predicate references no table's columns")
        return self._union(frames, "outer", src_col)

    def t_fork(self, df: DataFrame, op: Fork) -> DataFrame:
        """`T | fork (q1) (q2)` [KQL §2.13]: apply each sub-pipeline to the
        same input. Kusto returns one table per branch; v1 materializes the
        union-by-name with a `fork_result` provenance column (documented
        deviation — the driver protocol is single-DataFrame)."""
        frames: list[tuple[str, DataFrame]] = []
        for name, ops in op.branches:
            branch = df
            saved_order = self.order
            for sop in ops:
                branch = self.translate_op(branch, sop)
            self.order = saved_order
            frames.append((name, branch))
        out = self._union(frames, "outer", "fork_result")
        self.order = None
        return out

    def t_reduceop(self, df: DataFrame, op: ReduceOp) -> DataFrame:
        """`T | reduce by expr` [KQL §2.13]: string-pattern clustering.
        Kusto's exact algorithm is unpublished; the documented approximation
        replaces digit runs with '*' and groups. Deterministic output:
        (Pattern, Count, Representative=min original value)."""
        tr = self.expr_tr(df)
        s = tr.to_col(op.expr).cast("string")
        pattern = F.regexp_replace(s, r"\d+", "*")
        out = (
            df.select(pattern.alias("Pattern"), s.alias("__raw"))
            .groupBy("Pattern")
            .agg(
                F.count(F.lit(1)).alias("Count"),
                F.min("__raw").alias("Representative"),
            )
        )
        self.order = None
        return out

    def _datatable(self, src: DataTable) -> DataFrame:
        values = [self._const_cell(v) for v in src.rows]
        ncols = len(src.schema)
        rows = [tuple(values[i : i + ncols]) for i in range(0, len(values), ncols)]
        schema = T.StructType(
            [T.StructField(n, KQL_TO_SPARK[t.lower()], True) for n, t in src.schema]
        )
        return self.spark.createDataFrame(rows, schema)

    def _const_cell(self, v: Expr):
        """Decode a datatable cell to a Python value; raise on anything that is
        not constant-foldable (silent nulls are data corruption)."""
        import datetime as _dtmod
        import json as _json

        if isinstance(v, Lit):
            if v.ktype == "timespan":
                return _dtmod.timedelta(seconds=float(v.value))
            return v.value
        if isinstance(v, UnaryOp) and v.op == "-":
            inner = self._const_cell(v.operand)
            if isinstance(inner, _dtmod.timedelta):
                return -inner
            return -inner
        if isinstance(v, TypedLit):
            if v.ktype == "datetime":
                return parse_kql_datetime(v.raw)
            if v.ktype == "timespan":
                secs = _parse_timespan_raw(v.raw)
                return None if secs is None else _dtmod.timedelta(seconds=secs)
            if v.ktype == "guid":
                s = v.raw.strip().strip("'\"")
                return None if s.lower() == "null" else s.lower()
            if v.ktype == "dynamic":
                # dynamic carrier is JSON text (SURVEY.md §1.1)
                parsed = parse_dynamic_literal(v.raw)
                return None if parsed is None else _json.dumps(parsed)
            raise KqlSemanticError(f"datatable cell: unknown typed literal {v.ktype}")
        if isinstance(v, Col):
            n = v.name.lower()
            if n == "null":
                return None
            if n == "true":
                return True
            if n == "false":
                return False
        if isinstance(v, FuncCall) and v.name in _NULLABLE_TYPE_CTORS and len(v.args) == 1:
            arg = v.args[0]
            if isinstance(arg, Col) and arg.name.lower() == "null":
                return None
            if v.name == "real":
                fv = _inf_name(arg)
                if fv is not None:
                    return fv
            return self._const_cell(arg)
        raise KqlSemanticError(
            f"datatable cell must be a constant literal, got {v!r}"
        )

    def _range_source(self, src: RangeSource) -> DataFrame:
        tr = ExprTranslator(None, self)
        start = tr.to_col(src.start)
        stop = tr.to_col(src.stop)
        step = tr.to_col(src.step) if src.step else F.lit(1)
        secs = tr.const_seconds(src.step) if src.step else None
        if isinstance(src.start, TypedLit) and src.start.ktype == "datetime":
            step = interval_seconds(secs or 86400.0)
            seq = F.sequence(start, stop, step)
            return self.spark.range(1).select(F.explode(seq).alias(src.name))
        is_ts = (
            isinstance(src.start, TypedLit) and src.start.ktype == "timespan"
        ) or (isinstance(src.start, Lit) and src.start.ktype == "timespan")
        if is_ts:
            # timespan axis: Spark sequence() can't step interval VALUES —
            # generate integer step indices and rebuild intervals
            from .semantics import timespan_seconds_of

            s0 = timespan_seconds_of(start)
            s1 = timespan_seconds_of(stop)
            ds = F.lit(float(secs or 1.0))
            n = F.floor((s1 - s0) / ds).cast("bigint")
            idx = F.when(
                n >= 0, F.sequence(F.lit(0).cast("bigint"), n)
            ).otherwise(F.array().cast("array<bigint>"))
            seq = F.transform(
                idx, lambda i: F.make_dt_interval(secs=s0 + i.cast("double") * ds)
            )
            return self.spark.range(1).select(F.explode(seq).alias(src.name))
        kinds = {
            getattr(e, "ktype", None)
            for e in (src.start, src.stop, src.step)
            if e is not None and isinstance(e, Lit)
        }
        if "real" in kinds:
            # fractional axis: integer index sequence scaled by the step
            n = F.floor((stop.cast("double") - start.cast("double")) / step.cast("double")).cast("bigint")
            idx = F.when(
                n >= 0, F.sequence(F.lit(0).cast("bigint"), n)
            ).otherwise(F.array().cast("array<bigint>"))
            seq = F.transform(
                idx,
                lambda i: start.cast("double") + i.cast("double") * step.cast("double"),
            )
            return self.spark.range(1).select(F.explode(seq).alias(src.name))
        seq = F.sequence(start, stop, step)
        return self.spark.range(1).select(F.explode(seq).alias(src.name))

    def _source_label(self, p: Pipe) -> str:
        if isinstance(p.source, TableRef) and not p.ops:
            return p.source.name
        if isinstance(p.source, TableRef):
            return p.source.name
        return "union_arg"

    # -------------------------------------------------------------- operators
    def translate_op(self, df: DataFrame, op: TabularOp) -> DataFrame:
        meth = getattr(self, "t_" + type(op).__name__.lower(), None)
        if meth is None:
            raise KqlUnsupportedError(f"operator {type(op).__name__} not implemented")
        # The sort|take peel-back (t_take) is only valid when Take
        # IMMEDIATELY follows the small-plan Sort. Invalidate the marker
        # before any other op so an intervening operator that returns its
        # input DataFrame unchanged (bare `serialize` does today) cannot be
        # silently dropped by the identity-keyed rebuild.
        if not isinstance(op, Take):
            self._small_sorted = None
        out = meth(df, op)
        # row-expanding / size-opaque operators invalidate the
        # source-bytes upper estimate (see _src_bytes); shrinking ops
        # (where/project/summarize/sort/take/...) keep it, join/lookup
        # accumulate it themselves
        if type(op).__name__ in _SIZE_OPAQUE_OPS:
            self._src_bytes = None
        elif type(op).__name__ in ("Extend", "Project", "Serialize") and any(
            isinstance(n, FuncCall) and n.name in _GROWTH_FNS
            for n in _walk_ast(op)
        ):
            # extend/project are size-transparent only while the added
            # columns stay bounded by the input (column copies, parses,
            # arithmetic). Calls that can GROW a row without bound
            # (strrep, repeat, range, decompression) invalidate the
            # source-bytes upper estimate (round 11, ADVICE).
            self._src_bytes = None
        # shape-tail tracking (see _shape in __init__): summarize starts
        # an "agg" tail, a following where makes it "agg_filtered",
        # row-preserving projections keep it, anything else clears it
        opname = type(op).__name__
        if opname == "Summarize":
            self._shape = "agg"
        elif opname == "Where":
            if self._shape in ("agg", "agg_filtered"):
                self._shape = "agg_filtered"
        elif opname not in (
            "Project", "ProjectAway", "ProjectKeep", "ProjectRename",
            "ProjectReorder", "Extend", "Serialize",
        ):
            self._shape = None
        return out

    def expr_tr(self, df: DataFrame, env=None) -> ExprTranslator:
        return ExprTranslator(df, self, env=env, window=self.current_window())

    def t_where(self, df: DataFrame, op: Where) -> DataFrame:
        # `x in (T | ...)` conjuncts lower to semi/anti joins — the scalable
        # path (no value materialization, shuffle- or broadcast-joined by
        # Catalyst). Only non-conjunct positions (under `or`, in project)
        # fall back to the bounded eager-collect in _inlist.
        conjs = _split_conjuncts(op.pred)
        tab_ins = [
            c for c in conjs if isinstance(c, InList) and c.table is not None
        ]
        if not tab_ins:
            return df.filter(self.expr_tr(df).to_col(op.pred))
        rest = [
            c for c in conjs if not (isinstance(c, InList) and c.table is not None)
        ]
        for e in tab_ins:
            inner = self.translate_pipe(e.table)
            first = inner.columns[0]
            right = inner.select(F.col(first).alias("__kql_inval")).distinct()
            # a filtered-aggregate `in` subquery gets the AQE stage
            # boundary too (see _aqe_probe): runtime size drives the
            # semi-join's broadcast conversion
            right = self._aqe_probe(
                right, ["__kql_inval"], self._last_pipe_shape,
                self._last_pipe_bytes,
            )
            lcol = self.expr_tr(df).to_col(e.expr)
            if e.ci:
                cond = F.lower(lcol.cast("string")) == F.lower(
                    right["__kql_inval"].cast("string")
                )
            else:
                cond = lcol == right["__kql_inval"]
            df = df.join(right, cond, "left_anti" if e.negated else "left_semi")
        if rest:
            pred = self.expr_tr(df).to_col(rest[0])
            for r in rest[1:]:
                pred = pred & self.expr_tr(df).to_col(r)
            df = df.filter(pred)
        return df

    def _named_items(
        self,
        df: DataFrame,
        items: list[NamedExpr],
        auto_prefix: str = "Column",
        allow_multi: bool = False,
    ) -> list[tuple[str, Column]]:
        """Translate a comma list with KQL sequential visibility: later items
        can reference earlier ones in the same clause. `allow_multi` is set
        only by project/extend (the callers that apply pending_prework):
        multi-valued assignment stages its struct there."""
        env: dict[str, Column] = {}
        out: list[tuple[str, Column]] = []
        auto_i = 0
        mv_i = 0
        for item in items:
            tr = self.expr_tr(df, env=env)
            if getattr(item, "names", None):
                if not allow_multi:
                    raise KqlSemanticError(
                        "multi-valued assignment (a, b, ...) = f(...) is only "
                        "supported in project/extend"
                    )
                # (a, b, ...) = f(...) [KQL multi-valued assignment]: f must
                # be a declared multi-output function; outputs bind
                # positionally. The struct is staged once via prework so
                # UDF-backed builders (series_fft, series_fit_2lines)
                # evaluate once, not once per target.
                fc = item.expr
                if not (isinstance(fc, FuncCall) and fc.name.lower() in MULTI_OUTPUT):
                    raise KqlSemanticError(
                        "multi-valued assignment needs a multi-output function "
                        f"({', '.join(sorted(set(MULTI_OUTPUT)))}); got "
                        f"{getattr(fc, 'name', type(fc).__name__)}"
                    )
                fields, builder = MULTI_OUTPUT[fc.name.lower()]
                if callable(fields):  # variadic outputs (array_sort_*)
                    fields = fields(fc.args)
                if len(item.names) > len(fields):
                    raise KqlSemanticError(
                        f"{fc.name} yields {len(fields)} values "
                        f"({', '.join(fields)}); {len(item.names)} targets given"
                    )
                struct_col = builder(tr, fc.args)
                tmp = f"__kqlseg_mv{mv_i}"
                mv_i += 1
                self.pending_prework[tmp] = struct_col
                for name, field in zip(item.names, fields):
                    c = F.col(tmp).getField(field)
                    env[name] = c
                    out.append((name, c))
                continue
            col = tr.to_col(item.expr)
            name, auto_i = _projected_name(item, auto_i, auto_prefix)
            env[name] = col
            out.append((name, col))
        return out

    def _apply_prework(self, df: DataFrame) -> DataFrame:
        # applied ONE AT A TIME so a staged column may reference an earlier
        # one (rank-restart stages a segment id, then a per-segment row
        # number over it); Catalyst collapses the adjacent projections
        for name, col in self.pending_prework.items():
            df = df.withColumn(name, col)
        self.pending_prework = {}
        return df

    def t_project(self, df: DataFrame, op: Project) -> DataFrame:
        with self._json_sharing(df, op.items):
            items = self._named_items(df, op.items, allow_multi=True)
            return self._apply_prework(df).select(
                *[c.alias(n) for n, c in items]
            )

    def t_extend(self, df: DataFrame, op: Extend) -> DataFrame:
        with self._json_sharing(df, op.items):
            items = self._named_items(df, op.items, allow_multi=True)
            work = self._apply_prework(df)
            out = work.withColumns({n: c for n, c in items})
        return out.drop(*[c for c in out.columns if c.startswith("__kqlseg")])

    @_contextmanager
    def _json_sharing(self, df: DataFrame, items):
        """Scope for the single-parse JSON optimization: stage shared
        from_json structs for this clause and isolate prework/routing state
        from any nested pipe translation (toscalar subqueries)."""
        saved_shared, saved_pre = self.json_shared, self.pending_prework
        self.pending_prework = {}
        self.json_shared = self._shared_json_map(df, items)
        try:
            yield
        finally:
            self.json_shared, self.pending_prework = saved_shared, saved_pre

    def _shared_json_map(
        self, df: DataFrame, items
    ) -> dict[tuple[str, str], Column]:
        """Single-parse JSON projection (round 7): when one project/extend
        extracts two or more distinct top-level keys from the same
        string-carrier dynamic column, stage ONE from_json struct with
        all-string fields — verified bit-identical to get_json_object
        (tests/test_regressions.py differential: scalars, nested
        object/array raw-text carriers, escapes, unicode, missing keys,
        malformed JSON, huge numbers) — and route every access through it
        via self.json_shared, consulted by _property and _extractjson.
        N extractions then cost one JSON parse per row instead of N, the
        dominant scan-stage cost on wide JSON at 100 TB.
        Known delta (documented): an object with DUPLICATE top-level keys
        (RFC 8259 undefined) yields the first occurrence under
        get_json_object but the last under from_json — Kusto's parse_json
        also keeps the last, so the shared path matches Kusto more closely.
        Conservative by construction: plain column bases only (not env- or
        let-bound), simple $.key identifier paths, and never for columns
        (re)assigned in the same clause (sequential visibility could rebind
        them mid-list)."""
        assigned: set[str] = set()
        for it in items:
            if getattr(it, "names", None):
                assigned.update(it.names)
            elif it.name:
                assigned.add(it.name)
            elif (
                isinstance(it.expr, FuncCall)
                and it.expr.name == "bin"
                and it.expr.args
                and isinstance(it.expr.args[0], Col)
            ):
                assigned.add(it.expr.args[0].name)
        dtypes = dict(df.dtypes)
        per_base: dict[str, set[str]] = {}
        import dataclasses as _dc

        stack: list = [it.expr for it in items]
        while stack:
            x = stack.pop()
            if isinstance(x, (Pipe, Query)):
                continue  # different DataFrame context (toscalar / tabular in)
            if (
                isinstance(x, Property)
                and isinstance(x.base, Col)
                and x.base.side is None
                and isinstance(x.key, Lit)
                and x.key.ktype == "string"
                and dtypes.get(x.base.name) == "string"
                and x.base.name not in self.lets
                and _JSON_IDENT.match(str(x.key.value))
            ):
                per_base.setdefault(x.base.name, set()).add(str(x.key.value))
            elif (
                isinstance(x, FuncCall)
                and x.name.lower() in ("extractjson", "extract_json")
                and len(x.args) >= 2
                and isinstance(x.args[0], Lit)
                and isinstance(x.args[1], Col)
                and x.args[1].side is None
                and dtypes.get(x.args[1].name) == "string"
                and x.args[1].name not in self.lets
            ):
                m = _JSON_TOP_KEY.match(str(x.args[0].value))
                if m:
                    per_base.setdefault(x.args[1].name, set()).add(m.group(1))
            if _dc.is_dataclass(x) and not isinstance(x, type):
                for f in _dc.fields(x):
                    stack.append(getattr(x, f.name))
            elif isinstance(x, (list, tuple)):
                stack.extend(x)
            elif isinstance(x, dict):
                stack.extend(x.values())
        shared: dict[tuple[str, str], Column] = {}
        for base in sorted(per_base):
            keys = per_base[base]
            if len(keys) < 2 or base in assigned:
                continue
            tmp = f"__kqlseg_json{len(self.pending_prework)}"
            schema = T.StructType(
                [T.StructField(k, T.StringType()) for k in sorted(keys)]
            )
            self.pending_prework[tmp] = F.from_json(
                F.col(base).cast("string"), schema
            )
            for k in sorted(keys):
                shared[(base, k)] = F.col(tmp).getField(k)
        return shared

    def _expand_patterns(self, df: DataFrame, patterns: list[str]) -> list[str]:
        cols = df.columns
        out: list[str] = []
        for p in patterns:
            if "*" in p:
                out.extend(c for c in cols if fnmatch.fnmatch(c, p) and c not in out)
            elif p in cols and p not in out:
                out.append(p)
        return out

    def t_projectaway(self, df: DataFrame, op: ProjectAway) -> DataFrame:
        drop = self._expand_patterns(df, op.patterns)
        return df.drop(*drop)

    def t_projectkeep(self, df: DataFrame, op: ProjectKeep) -> DataFrame:
        keep = set(self._expand_patterns(df, op.patterns))
        return df.select(*[c for c in df.columns if c in keep])

    def t_projectrename(self, df: DataFrame, op: ProjectRename) -> DataFrame:
        return df.withColumnsRenamed({old: new for new, old in op.pairs})

    def t_projectreorder(self, df: DataFrame, op: ProjectReorder) -> DataFrame:
        ordered = self._expand_patterns(df, op.patterns)
        rest = [c for c in df.columns if c not in ordered]
        return df.select(*ordered, *rest)

    def t_distinct(self, df: DataFrame, op: Distinct) -> DataFrame:
        if op.star:
            # hidden ingestion-metadata columns must not distort row identity
            # — prefix match so join-renamed copies (__kql_ingest_ts1) drop too
            meta = [
                c for c in df.columns
                if c.startswith(("__kql_ingest_ts", "__kql_extent_path"))
            ]
            if meta:
                df = df.drop(*meta)
            return df.distinct()
        cols = self._expand_patterns(df, op.cols)
        return df.select(*cols).distinct()

    def _sort_cols(self, df: DataFrame, keys: list[SortKey]) -> list[Column]:
        tr = self.expr_tr(df)
        cols: list[Column] = []
        for k in keys:
            c = tr.to_col(k.expr)
            # KQL default nulls: asc -> nulls first, desc -> nulls last [KQL]
            nulls = k.nulls or ("first" if k.asc else "last")
            if k.asc:
                cols.append(c.asc_nulls_first() if nulls == "first" else c.asc_nulls_last())
            else:
                cols.append(c.desc_nulls_first() if nulls == "first" else c.desc_nulls_last())
        return cols

    def t_sort(self, df: DataFrame, op: Sort) -> DataFrame:
        if self.streaming and df.isStreaming:
            # streams cannot be globally sorted; record the keys so
            # order-sensitive ops downstream (scan) apply them per
            # micro-batch — the documented streaming serialization contract
            self.order = self._sort_cols(df, op.keys)
            self._stream_order = self._plain_sort_keys(op.keys)
            return df
        cols = self._sort_cols(df, op.keys)
        self.order = cols
        if self.small_plan:
            # a global sort lowers to Exchange(rangepartitioning) whose
            # preparation runs a SAMPLING JOB over the child — for a
            # <32MB-source query that job costs more than the sort.
            # coalesce(1) + sortWithinPartitions yields the same total
            # order in one task with no sampling pass (measured: TPC-H Q1
            # trailing sort 0.24s -> 0.17s at sf0.1). Never taken at
            # scale: small_plan is gated on source bytes. A following
            # `take` peels this back to orderBy().limit() (t_take) so
            # sort+take still plans as TakeOrderedAndProject.
            out = df.coalesce(1).sortWithinPartitions(*cols)
            self._small_sorted = (out, df, cols)
            return out
        return df.orderBy(*cols)

    def _plain_sort_keys(self, keys) -> list[tuple[str, bool, str]]:
        """(column, asc, nulls) triples for pandas-side sorting (scan
        sharding / streaming); restricted to plain column keys."""
        out = []
        for k in keys:
            if not isinstance(k.expr, Col):
                raise KqlUnsupportedError(
                    "scan sharding/streaming: sort keys must be plain columns"
                )
            out.append(
                (k.expr.name, k.asc, k.nulls or ("first" if k.asc else "last"))
            )
        return out

    def _const_count(self, v) -> int:
        """Row-count operator argument: int literal, or a constant expression
        resolved through let bindings / tabular-lambda parameters."""
        if isinstance(v, int):
            if v < 0:
                raise KqlSemanticError(f"row count must be non-negative, got {v}")
            return v
        e = v
        for _ in range(16):  # follow let chains: take lim -> let lim = n
            if isinstance(e, Col) and isinstance(self.lets.get(e.name), Expr):
                e = self.lets[e.name]
            else:
                break
        n = None
        if isinstance(e, Lit):
            n = int(e.value)
        elif isinstance(e, UnaryOp) and e.op == "-" and isinstance(e.operand, Lit):
            n = -int(e.operand.value)
        if n is None:
            raise KqlSemanticError(
                "take/top/sample count must be a constant (or a let-bound/"
                "function-parameter constant)"
            )
        if n < 0:
            raise KqlSemanticError(f"row count must be non-negative, got {n}")
        return n

    def t_take(self, df: DataFrame, op: Take) -> DataFrame:
        # limit without a total order (and sort|take under key ties) may
        # select different rows on re-execution — poisons plan rewrites
        # that re-execute the upstream (split-distinct)
        self._rowset_nondet = True
        small = getattr(self, "_small_sorted", None)
        if small is not None and small[0] is df:
            # sort|take directly on a small-plan coalesced sort: rebuild as
            # orderBy().limit() so Catalyst plans TakeOrderedAndProject
            # (per-partition top-k, no sampling job) — strictly better than
            # limiting a single-task full sort
            _, src, cols = small
            self._small_sorted = None
            return src.orderBy(*cols).limit(self._const_count(op.n))
        return df.limit(self._const_count(op.n))

    def t_top(self, df: DataFrame, op: Top) -> DataFrame:
        # ties at the boundary make the kept rows re-execution-dependent,
        # same as sort|take — poisons rewrites that re-execute upstream
        self._rowset_nondet = True
        cols = self._sort_cols(df, op.keys)
        self.order = cols
        # orderBy().limit() -> Catalyst plans TakeOrderedAndProject (§4.1)
        return df.orderBy(*cols).limit(self._const_count(op.n))

    def t_serialize(self, df: DataFrame, op: Serialize) -> DataFrame:
        if self.order is None:
            df = df.withColumn("__row_order", F.monotonically_increasing_id())
            self.order = [F.col("__row_order").asc()]
        if op.items:
            df = self.t_extend(df, Extend(op.items))
        return df

    def t_countop(self, df: DataFrame, op: CountOp) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias(op.as_name))

    def t_summarize(self, df: DataFrame, op: Summarize) -> DataFrame:
        by_items = self._named_items(df, op.by)
        # Materialize computed keys under TEMP names so a key that shadows a
        # source column (`by bin(ts, 1d)` auto-named `ts`) cannot corrupt
        # aggregate inputs translated against the original columns.
        work = df
        tmp_names: list[str] = []
        out_names: list[str] = []
        for i, (name, col) in enumerate(by_items):
            tmp = f"__kqlkey{i}"
            work = work.withColumn(tmp, col)
            tmp_names.append(tmp)
            out_names.append(name)
        # hint.shufflekey / hint.num_partitions [KQL]: pre-partition on the
        # named key(s) so the aggregation shuffle is explicit (skew control)
        shufflekey = op.hints.get("shufflekey")
        if shufflekey:
            keys = [shufflekey] if isinstance(shufflekey, str) else list(shufflekey)
            # A shufflekey naming a computed by-key (the common skew-control
            # case, e.g. `by h = hash(x)`) must resolve to its __kqlkey{i}
            # temp column — the user-visible alias doesn't exist yet here.
            keys = [
                tmp_names[out_names.index(k)] if k in out_names else k
                for k in keys
            ]
            nparts = op.hints.get("num_partitions")
            if nparts:
                work = work.repartition(int(nparts), *keys)
            else:
                work = work.repartition(*keys)
        tr = self.expr_tr(work)
        # small-plan gate: under 32MB of source the fused single-pass plan
        # wins (fewer stages beat narrow shuffles — A/B at sf0.1: fused
        # 0.70s vs split 0.75s; at sf10: split 7.5s vs fused 11.3s)
        split = (
            self._split_distinct_items(tr, op)
            if len(op.aggs) >= 2
            # cheap AST pre-scan so the common no-distinct summarize never
            # pays the guard's translation pass
            and any(
                isinstance(it.expr, FuncCall)
                and it.expr.name in _DISTINCT_AGG_FNS
                for it in op.aggs
            )
            and not self.small_plan
            and not (self.streaming and work.isStreaming)
            # the split re-executes the upstream once per piece; bail if
            # any upstream op selects rows nondeterministically (take,
            # innerunique) — pieces could otherwise aggregate different
            # rows (round 11, ADVICE)
            and not self._rowset_nondet
            and _SPLIT_DISTINCT
            else None
        )
        if split is not None:
            result = self._summarize_split(work, tmp_names, split)
            result = result.withColumnsRenamed(dict(zip(tmp_names, out_names)))
            self.order = None
            return result
        agg_cols: list[Column] = []
        for item in op.aggs:
            for out_name, col in self._translate_agg(tr, item):
                agg_cols.append(col.alias(out_name))
        if not agg_cols and tmp_names:
            # `summarize by k` == distinct keys [KQL]
            result = work.select(*tmp_names).distinct()
        elif tmp_names:
            result = work.groupBy(*tmp_names).agg(*agg_cols)
        else:
            result = work.agg(*agg_cols)
        result = result.withColumnsRenamed(dict(zip(tmp_names, out_names)))
        self.order = None
        return result

    def _split_distinct_items(self, tr, op: Summarize):
        """(plain_pairs, distinct_pairs, ordered_names) when the
        split-distinct rewrite applies (see _summarize_split), else None;
        each pairs list holds the item's translated (name, Column) list so
        the rewrite translates every aggregate exactly once. Distinct-style
        = aggs lowering to count_distinct: dcount/dcountif in exact mode
        (the default; sketch mode is an ordinary agg), count_distinct[if].
        Expression-over-aggregate items are opaque — no rewrite."""
        plain, dist, ordered = [], [], []
        for item in op.aggs:
            e = item.expr
            if not (isinstance(e, FuncCall) and e.name in AGG_REGISTRY):
                return None
            translated = self._translate_agg(tr, item)
            ordered.extend(out for out, _ in translated)
            if e.name in _DISTINCT_AGG_FNS and (
                e.name in ("count_distinct", "count_distinctif")
                or tr.exact_dcount
            ):
                dist.append(translated)
            else:
                plain.append(translated)
        if not dist or (not plain and len(dist) < 2):
            return None
        # duplicate output names (legal in the fused path — Spark allows
        # repeated aliases in one agg) would be ambiguous across the
        # join-back; bail to the fused plan
        if len(set(ordered)) != len(ordered):
            return None
        return plain, dist, ordered

    def _summarize_split(self, work, tmp_names, split):
        """Mixed distinct + plain aggregates (round 10): Spark's
        single-pass plan regroups at (keys, distinct-expr) grain carrying
        EVERY plain-agg buffer through that exchange — measured ~4.5GB of
        shuffle (~100B/row at 45M distinct pairs) on the b8 agg sweep at
        sf10 — and with N>1 distinct exprs it additionally Expands rows
        xN. Lower instead to one aggregation per distinct expr plus one
        for all plain aggs, inner-joined back on the group keys
        (null-safe): every shuffle is then narrow (keys + one value), and
        the join-back is exchange-free because every side's final
        aggregate already hash-partitioned on the keys. Trade-off: one
        source scan per piece — at scale shuffle bytes dominate rescans,
        and the pieces share the parquet page cache.

        The upstream is not persisted for the pieces to share: that was
        measured 3x slower than re-executing it at sf10 (BASELINE.md
        round 12)."""
        plain, dist, ordered = split

        def agg_df(pairs_list):
            cols = [
                col.alias(out_name)
                for pairs in pairs_list
                for out_name, col in pairs
            ]
            if tmp_names:
                return work.groupBy(*tmp_names).agg(*cols)
            return work.agg(*cols)

        def q(n: str) -> str:
            # df[name] / F.col parse '.' as struct access — backtick-quote
            # any output name that is not a plain identifier (KQL
            # bracket-quoted names can contain dots, spaces, backticks)
            return "`" + n.replace("`", "``") + "`" if not n.isidentifier() else n

        dfs = ([agg_df(plain)] if plain else []) + [agg_df([p]) for p in dist]
        base = dfs[0]
        for i, other in enumerate(dfs[1:]):
            if not tmp_names:
                base = base.crossJoin(other)
                continue
            b, o = base.alias(f"__sb{i}"), other.alias(f"__so{i}")
            cond = None
            for k in tmp_names:
                c = b[k].eqNullSafe(o[k])
                cond = c if cond is None else (cond & c)
            keep = [b[q(c2)] for c2 in base.columns] + [
                o[q(c2)] for c2 in other.columns if c2 not in tmp_names
            ]
            base = b.join(o, cond, "inner").select(*keep)
        # restore the user's aggregate order (pieces grouped plain-first)
        return base.select(*[base[q(c)] for c in (*tmp_names, *ordered)])

    def _translate_agg(self, tr: ExprTranslator, item: NamedExpr):
        e = item.expr
        if isinstance(e, FuncCall) and e.name in AGG_REGISTRY:
            return AGG_REGISTRY[e.name](tr, e.args, item.name)
        # expression over aggregates, e.g. sum(a)/count() or
        # array_sort_asc(make_list(x)) — translate with agg_mode on
        agg_tr = ExprTranslator(tr.df, self, env=tr.env, agg_mode=True)
        return [(item.name or "Column1", agg_tr.to_col(e))]

    # ------------------------------------------------------------------ joins
    def _translate_join_side(self, pipe: Pipe) -> DataFrame:
        """Join/lookup right sides resolve as STATIC tables even in
        streaming mode — the stream-static dimension-enrichment pattern
        (Spark re-reads the static side per micro-batch). A stream-stream
        join would need watermarks on both sides + append mode; bind the
        stream explicitly via Catalog.register_stream for that case."""
        was = self.streaming
        self.streaming = False
        try:
            return self.translate_pipe(pipe)
        finally:
            self.streaming = was

    def t_join(self, df: DataFrame, op: Join) -> DataFrame:
        lbytes = self._src_bytes
        l_shape = self._shape
        right = self._translate_join_side(op.right)
        rbytes = self._last_pipe_bytes
        r_shape = self._last_pipe_shape
        kind = op.kind
        how_map = {
            "inner": "inner", "innerunique": "inner", "leftouter": "left",
            "rightouter": "right", "fullouter": "full", "leftsemi": "left_semi",
            "leftantisemi": "left_anti", "leftanti": "left_anti", "anti": "left_anti",
            "rightsemi": "right_semi", "rightanti": "right_anti",
            "cross": "cross",
        }
        if kind not in how_map:
            raise KqlUnsupportedError(f"join kind {kind!r}")

        # split equi keys (fast path: hash/broadcast joinable) from theta
        # conditions (range/as-of idioms — Catalyst still picks a range-join
        # capable strategy; equi keys present keep the shuffle keyed)
        equi: list[tuple[str, str]] = []
        theta = []
        for cond in op.on:
            if (
                cond.op == "=="
                and isinstance(cond.left, Col)
                and isinstance(cond.right, Col)
            ):
                equi.append((cond.left.name, cond.right.name))
            else:
                theta.append(cond)
        left_keys = [a for a, _ in equi]
        right_keys = [b for _, b in equi]

        if kind == "innerunique" and left_keys:
            # KQL default: dedup left on join keys, then inner join [KQL join]
            # dropDuplicates keeps an ARBITRARY survivor per key — row
            # selection can differ across re-executions (see _rowset_nondet)
            self._rowset_nondet = True
            df = df.dropDuplicates(left_keys)

        how = how_map[kind]
        if how in ("right_semi", "right_anti"):
            # swap: semi/anti from the right side's perspective; the condition
            # references concrete DataFrame columns, so orientation is free.
            # After the swap the BUILD side is the original left — hint it
            # when its source bytes are small (semi/anti build must be the
            # join's right side, so only that orientation is legal).
            if op.hints.get("strategy") == "broadcast":
                df = F.broadcast(df)
            elif op.hints.get("strategy") != "shuffle" and left_keys:
                pre = df
                _, df = self._auto_broadcast(right, df, rbytes, lbytes, "left")
                if pre is df:
                    # the post-swap BUILD side (original left): a filtered-
                    # aggregate gets the AQE stage boundary (see _aqe_probe)
                    df = self._aqe_probe(df, left_keys, l_shape, lbytes)
            cond = self._full_cond(df, right, left_keys, right_keys, theta)
            out = right.join(df, cond, how.replace("right", "left"))
            self.order = None
            # output rows come from the RIGHT side (left_semi output ⊆
            # left would keep lbytes; here the roles are swapped)
            self._src_bytes = rbytes
            return out

        if how in ("left_semi", "left_anti"):
            if op.hints.get("strategy") == "broadcast":
                right = F.broadcast(right)
            elif op.hints.get("strategy") != "shuffle" and left_keys:
                pre = right
                _, right = self._auto_broadcast(df, right, lbytes, rbytes, "left")
                if pre is right:
                    right = self._aqe_probe(right, right_keys, r_shape, rbytes)
            cond = self._full_cond(df, right, left_keys, right_keys, theta)
            out = df.join(right, cond, how)
            self.order = None
            return out

        # rename right-side collisions with suffix '1' (KQL x1 convention)
        right_renamed, rename_map = self._suffix_collisions(df, right)
        right_keys2 = [rename_map.get(k, k) for k in right_keys]
        if op.hints.get("strategy") == "broadcast":
            right_renamed = F.broadcast(right_renamed)
        elif op.hints.get("strategy") == "shuffle":
            nparts = op.hints.get("num_partitions")
            if nparts:
                right_renamed = right_renamed.repartition(int(nparts), *right_keys2)
        elif left_keys:
            pre_l, pre_r = df, right_renamed
            df, right_renamed = self._auto_broadcast(
                df, right_renamed, lbytes, rbytes, how
            )
            if pre_l is df and pre_r is right_renamed:
                # neither side earned a broadcast hint -> both estimates
                # are big/unknown; give AQE a runtime-measured boundary
                # on any filtered-aggregate side (see _aqe_probe)
                df = self._aqe_probe(df, left_keys, l_shape, lbytes)
                right_renamed = self._aqe_probe(
                    right_renamed, right_keys2, r_shape, rbytes
                )
        cond = self._full_cond(
            df, right_renamed, left_keys, right_keys2, theta, rename_map
        )
        out = df.join(right_renamed, cond, how) if cond is not None else df.crossJoin(
            right_renamed
        )
        self.order = None
        # Composed-side estimate: lbytes+rbytes. This is a HEURISTIC, not
        # an upper bound — a 1:N equi-join replicates the narrow side's
        # columns N times and an N:M join multiplies rows — but for the
        # dominant FK/star shapes pruning+filtering shrink the true size
        # far below the sum (Q5's customer⋈orders: 3MB of sources, ~0.5MB
        # true). A blown estimate can at worst mis-hint a later broadcast
        # (perf cliff / typed Spark broadcast-size error, never wrong
        # results); a session autoBroadcastJoinThreshold of -1 turns the
        # hints off.
        self._src_bytes = (
            lbytes + rbytes
            if left_keys and lbytes is not None and rbytes is not None
            else None
        )
        return out

    def _aqe_probe(
        self, side: DataFrame, keys: list[str], shape: str | None,
        sbytes: int | None,
    ) -> DataFrame:
        """Rebalance-by-join-key stage boundary on a filtered-aggregate
        join side (round 12). `summarize ... by k | where pred` has a
        runtime size no static estimate can see — the filter's
        selectivity is data knowledge (TPC-H Q18's `big` is 15M groups
        statically but 47k rows at runtime). The rebalance hint inserts
        one exchange of the already-aggregated+filtered rows, hashed BY
        THE JOIN KEYS (so the partitioning stays join-compatible when no
        conversion happens), and that exchange is an AQE query-stage
        boundary: AQE reads the ACTUAL output size and converts the
        downstream sort-merge join to broadcast when it fits — the big
        fact side then never shuffles. Measured at sf10 (BASELINE.md
        round 12). Worst case (non-selective filter) the added exchange
        ships only the aggregate's own output — bounded by the agg
        exchange that just ran, and small relative to the join it
        precedes. Applied only when auto-broadcast declined both sides
        (estimates big/unknown) and this side's estimate exceeds the
        broadcast threshold, so small-fixture plans are untouched."""
        if shape != "agg_filtered" or not keys or not _AQE_PROBE:
            return side
        if self.streaming or side.isStreaming:
            return side
        # the REBALANCE hint is an AQE feature — without AQE the analyzer
        # drops it as unrecognized and the boundary buys nothing; a small
        # plan's sides are below any size worth probing
        if self.small_plan or (
            self.spark.conf.get("spark.sql.adaptive.enabled", "true") != "true"
        ):
            return side
        thr = _parse_size_bytes(
            self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
        )
        if thr <= 0 or (sbytes is not None and sbytes <= thr):
            return side
        try:
            return side.hint("rebalance", *keys)
        except Exception:  # pragma: no cover - defensive (odd key names)
            return side

    def _auto_broadcast(
        self,
        left: DataFrame,
        right: DataFrame,
        lbytes: int | None,
        rbytes: int | None,
        how: str,
    ) -> tuple[DataFrame, DataFrame]:
        """Source-bytes broadcast side hint (round 10). Without CBO stats
        Catalyst estimates a join's output as the PRODUCT of its input
        sizes, so a small filtered-dim join side (customer |> orders in
        TPC-H Q5) looks enormous while the column-pruned fact scan looks
        small — measured at sf0.1, Spark built the broadcast from the
        600k-row lineitem side and streamed the 23k-row dim side
        (BASELINE.md round 10), and at sf1 fell back to sort-merge. The
        translator knows each side's on-disk source bytes exactly;
        filters/aggregations only shrink a side, and extend/project adds
        at most row-bounded columns once unbounded-growth calls are
        screened out (_GROWTH_FNS), so source bytes are an upper
        ESTIMATE — heuristic, not a proof: on-disk bytes are compressed,
        and a wide extend can multiply in-memory size by a bounded
        constant. A blown estimate mis-hints a broadcast (perf cliff or
        typed Spark broadcast-size error, never wrong results);
        row-expanding ops reset the estimate to unknown
        (_SIZE_OPAQUE_OPS). Hint the smaller sub-threshold side.
        Explicit KQL hint.strategy always wins (caller checks). Outer
        joins only hint the side Spark can legally build: right for LEFT
        OUTER, left for RIGHT OUTER."""
        if not _AUTO_BROADCAST:
            return left, right
        thr = _parse_size_bytes(
            self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
        )
        if thr <= 0:
            return left, right
        if left.isStreaming:
            # a stream cannot be a broadcast build side; the static right
            # may still be hinted (stream-static enrichment). Join sides
            # are always static (_translate_join_side), so only the left
            # can be streaming here.
            if (
                rbytes is not None
                and rbytes <= thr
                and how in ("inner", "left")
            ):
                return left, F.broadcast(right)
            return left, right
        if (
            rbytes is not None
            and rbytes <= thr
            and (lbytes is None or rbytes <= lbytes)
            and how in ("inner", "left")
        ):
            return left, F.broadcast(right)
        if (
            lbytes is not None
            and lbytes <= thr
            and (rbytes is None or lbytes < rbytes)
            and how in ("inner", "right")
        ):
            return F.broadcast(left), right
        return left, right

    _THETA_OPS = {
        "==": lambda l, r: l == r,
        "!=": lambda l, r: l != r,
        "<": lambda l, r: l < r,
        "<=": lambda l, r: l <= r,
        ">": lambda l, r: l > r,
        ">=": lambda l, r: l >= r,
    }

    def _full_cond(
        self,
        l: DataFrame,
        r: DataFrame,
        lk: list[str],
        rk: list[str],
        theta,
        rename_map: dict[str, str] | None = None,
    ):
        cond = self._join_cond(l, r, lk, rk)
        if theta:
            tr = ExprTranslator(
                None,
                self,
                sides={"$left": l, "$right": r},
                side_renames={"$right": rename_map or {}},
            )
            for c in theta:
                t = self._THETA_OPS[c.op](tr.to_col(c.left), tr.to_col(c.right))
                cond = t if cond is None else cond & t
        return cond

    def _join_cond(self, l: DataFrame, r: DataFrame, lk: list[str], rk: list[str]):
        if not lk:
            return None
        cond = l[lk[0]] == r[rk[0]]
        for a, b in zip(lk[1:], rk[1:]):
            cond = cond & (l[a] == r[b])
        return cond

    def _suffix_collisions(self, left: DataFrame, right: DataFrame):
        lcols = set(left.columns)
        rename: dict[str, str] = {}
        for c in right.columns:
            if c in lcols:
                new = c + "1"
                i = 1
                while new in lcols or new in rename.values():
                    i += 1
                    new = f"{c}{i}"
                rename[c] = new
        if not rename:  # avoid a no-op JVM round trip per join
            return right, rename
        return right.withColumnsRenamed(rename), rename

    def t_lookup(self, df: DataFrame, op: Lookup) -> DataFrame:
        lbytes = self._src_bytes
        right = self._translate_join_side(op.right)
        rbytes = self._last_pipe_bytes
        left_keys = [c.left.name for c in op.on]
        right_keys = [c.right.name for c in op.on]
        # dimension join: broadcast small side, drop duplicate key cols (§2.4)
        rename: dict[str, str] = {}
        lcols = set(df.columns)
        for c in right.columns:
            if c in lcols and c not in right_keys:
                rename[c] = c + "1"
        if rename:
            right = right.withColumnsRenamed(rename)
        how = "left" if op.kind == "leftouter" else "inner"
        if left_keys == right_keys:
            out = df.join(F.broadcast(right), on=left_keys, how=how)
        else:
            rb = F.broadcast(right)
            cond = self._join_cond(df, rb, left_keys, right_keys)
            keep = [df[c] for c in df.columns] + [
                rb[c] for c in right.columns if c not in right_keys
            ]
            out = df.join(rb, cond, how).select(*keep)
        self.order = None
        self._src_bytes = (
            lbytes + rbytes if lbytes is not None and rbytes is not None else None
        )
        return out

    def _expand_union_wildcards(self, pipes: list[Pipe]) -> list[Pipe]:
        """`union T*`: expand wildcard table patterns against the catalog's
        known tables [KQL]."""
        out: list[Pipe] = []
        for p in pipes:
            src = p.source
            if isinstance(src, TableRef) and "*" in src.name and not p.ops:
                pat = re.compile(
                    "^" + ".*".join(map(re.escape, src.name.split("*"))) + "$"
                )
                matches = sorted(n for n in self.catalog.names() if pat.match(n))
                if not matches:
                    raise KqlSemanticError(f"union: no table matches {src.name!r}")
                out.extend(Pipe(TableRef(m), []) for m in matches)
            else:
                out.append(p)
        return out

    def t_union(self, df: DataFrame, op: Union) -> DataFrame:
        pipes = self._expand_union_wildcards(op.tables)
        dfs = [("self", df)] + self._union_operand_frames(pipes, op.isfuzzy)
        return self._union(dfs, op.kind, op.withsource)

    def _union_operand_frames(
        self, pipes: list[Pipe], isfuzzy: bool
    ) -> list[tuple[str, DataFrame]]:
        """Translate union operands; `isfuzzy=true` [KQL] tolerates operands
        that fail to resolve (unknown table / missing column in a subquery)
        instead of failing the whole union."""
        out: list[tuple[str, DataFrame]] = []
        for p in pipes:
            if isfuzzy:
                try:
                    out.append((self._source_label(p), self.translate_pipe(p)))
                except (KqlSemanticError, KqlUnsupportedError):
                    continue
            else:
                out.append((self._source_label(p), self.translate_pipe(p)))
        return out

    def _union(self, dfs: list[tuple[str, DataFrame]], kind: str, withsource):
        self.order = None
        frames = []
        for label, frame in dfs:
            if withsource:
                frame = frame.withColumn(withsource, F.lit(label))
            frames.append(frame)
        # Kusto splits a column whose KQL type differs across operands into
        # one `name_type` column per type [KQL union] — silent coercion to
        # string would change values
        types_by_col: dict[str, set[str]] = {}
        for fr in frames:
            for f in fr.schema.fields:
                types_by_col.setdefault(f.name, set()).add(
                    kql_type_name(f.dataType)
                )
        conflicted = {c for c, ts in types_by_col.items() if len(ts) > 1}
        if conflicted:
            renamed = []
            for fr in frames:
                for f in fr.schema.fields:
                    if f.name in conflicted:
                        fr = fr.withColumnRenamed(
                            f.name, f"{f.name}_{kql_type_name(f.dataType)}"
                        )
                renamed.append(fr)
            frames = renamed
        if kind == "inner":
            common = set(frames[0].columns)
            for fr in frames[1:]:
                common &= set(fr.columns)
            keep = [c for c in frames[0].columns if c in common]
            frames = [fr.select(*keep) for fr in frames]
            out = frames[0]
            for fr in frames[1:]:
                out = out.unionByName(fr)
            return out
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr, allowMissingColumns=True)
        return out

    # ------------------------------------------------------------ mv-* / parse
    def t_mvexpand(self, df: DataFrame, op: MvExpand) -> DataFrame:
        tr = self.expr_tr(df)
        cols: list[tuple[str, Column]] = []
        for item in op.items:
            col = tr.to_col(item.expr)
            name = item.name or (
                item.expr.name if isinstance(item.expr, Col) else "Column1"
            )
            dt = tr.dtype_of_ast(item.expr, col)
            as_array = op.bag_expansion == "array"

            def _quote(c):
                esc = F.regexp_replace(
                    F.regexp_replace(c, r"\\", r"\\\\"), '"', '\\"'
                )
                return F.concat(F.lit('"'), esc, F.lit('"'))

            def _entry(key_json, val_json):
                # bagexpansion=bag [KQL default]: {'k': v} per property;
                # =array: ['k', v] two-element arrays
                if as_array:
                    return F.concat(
                        F.lit("["), key_json, F.lit(","), val_json, F.lit("]")
                    )
                return F.concat(
                    F.lit("{"), key_json, F.lit(":"), val_json, F.lit("}")
                )

            if isinstance(dt, T.StringType):
                # JSON-text dynamic carrier: arrays explode per element;
                # object bags explode per property (values re-encoded —
                # JSON scalars stay raw, everything else re-quoted)
                s = col.cast("string")
                obj = F.transform(
                    F.map_entries(F.from_json(s, "map<string,string>")),
                    lambda kv: _entry(
                        _quote(kv["key"]),
                        F.when(
                            kv["value"].rlike(
                                r"^(-?[0-9][0-9.eE+-]*|true|false|null|\[.*\]|\{.*\})$"
                            ),
                            kv["value"],
                        ).otherwise(_quote(kv["value"])),
                    ),
                )
                col = (
                    F.when(s.startswith("["), F.from_json(s, "array<string>"))
                    .when(s.startswith("{"), obj)
                    .otherwise(F.array(s))
                )
            elif isinstance(dt, T.MapType):
                vt = dt.valueType
                if isinstance(vt, T.StringType):
                    enc = _quote
                elif isinstance(vt, (T.ArrayType, T.MapType, T.StructType)):
                    enc = F.to_json
                else:
                    enc = lambda c: F.coalesce(c.cast("string"), F.lit("null"))  # noqa: E731
                col = F.transform(
                    F.map_entries(col),
                    lambda kv: _entry(_quote(kv["key"]), enc(kv["value"])),
                )
            cols.append((name, col))
        if op.limit is not None:
            cols = [(n, F.slice(c, 1, op.limit)) for n, c in cols]
        if len(cols) == 1:
            name, col = cols[0]
            if op.with_itemindex:
                df2 = df.select(
                    "*", F.posexplode(col).alias(op.with_itemindex, name + "__x")
                ).drop(name).withColumnRenamed(name + "__x", name)
            else:
                df2 = df.withColumn(name, F.explode(col))
        else:
            # multi-column zip expansion [KQL mv-expand]: shorter arrays padded
            # with nulls — exactly arrays_zip + explode semantics
            zipped = F.arrays_zip(*[c.alias(n) for n, c in cols])
            tmp = "__mv_zip"
            df2 = df.withColumn(tmp, F.explode(zipped))
            for n, _ in cols:
                df2 = df2.withColumn(n, F.col(tmp)[n])
            df2 = df2.drop(tmp)
        if op.to_type:
            for n, _ in cols:
                df2 = df2.withColumn(n, F.col(n).cast(KQL_CAST_NAME[op.to_type.lower()]))
        self.order = None
        return df2

    def _json_to_array(self, col: Column) -> Column:
        s = col.cast("string")
        return F.when(
            s.startswith("["),
            F.from_json(s, "array<string>"),
        ).otherwise(F.array(s))

    def t_parseop(self, df: DataFrame, op: ParseOp) -> DataFrame:
        tr = self.expr_tr(df)
        src = tr.to_col(op.source).cast("string")
        regex_parts: list[str] = []
        slots: list[ParseSlot] = []
        segs = op.segments
        for idx, seg in enumerate(segs):
            if isinstance(seg, str):
                regex_parts.append(seg if op.kind == "regex" else re.escape(seg))
            else:
                if seg.name is None:
                    regex_parts.append(r"(?:.*?)")
                    continue
                is_last = all(not isinstance(s2, ParseSlot) or s2.name is None for s2 in segs[idx + 1 :]) and (
                    idx == len(segs) - 1
                )
                regex_parts.append(r"(.*)" if is_last else r"(.*?)")
                slots.append(seg)
        pattern = "".join(regex_parts)
        if op.flags:
            # [KQL parse kind=regex flags=]: i/m/s map to inline Java regex
            # flags; U (ungreedy) has no Java equivalent
            bad = set(op.flags) - set("ims")
            if bad:
                raise KqlUnsupportedError(
                    f"parse flags {''.join(sorted(bad))!r} unsupported "
                    "(i, m, s map to inline flags; U has no JVM equivalent)"
                )
            pattern = f"(?{op.flags})" + pattern
        work = df
        group = 0
        for slot in slots:
            group += 1
            val = F.regexp_extract(src, pattern, group)
            if slot.ktype:
                val = val.try_cast(KQL_CAST_NAME[slot.ktype.lower()])
            work = work.withColumn(slot.name, val)
        if op.where:
            work = work.filter(F.regexp_like(src, F.lit(pattern)))
        return work

    def t_parsekv(self, df: DataFrame, op: ParseKv) -> DataFrame:
        tr = self.expr_tr(df)
        src = tr.to_col(op.source).cast("string")
        m = F.str_to_map(src, F.lit(re.escape(op.pair_delim)), F.lit(re.escape(op.kv_delim)))
        work = df
        for name, ktype in op.slots:
            val = F.element_at(m, name)
            if ktype and ktype.lower() != "string":
                val = val.try_cast(KQL_CAST_NAME[ktype.lower()])
            work = work.withColumn(name, val)
        return work

    # --------------------------------------------------------------- sampling
    def t_sampleop(self, df: DataFrame, op: SampleOp) -> DataFrame:
        # rand() is nondeterministic across re-executions (values depend on
        # partition layout), so downstream rewrites that re-run the upstream
        # (split-distinct summarize) must not assume a stable row set.
        self._rowset_nondet = True
        return df.orderBy(F.rand(seed=42)).limit(self._const_count(op.n))

    def t_sampledistinct(self, df: DataFrame, op: SampleDistinct) -> DataFrame:
        self._rowset_nondet = True
        return (
            df.select(op.col)
            .distinct()
            .orderBy(F.rand(seed=42))
            .limit(self._const_count(op.n))
        )

    # ------------------------------------------------------------- top-nested
    def t_topnested(self, df: DataFrame, op: TopNested) -> DataFrame:
        tr = self.expr_tr(df)
        parents: list[str] = []
        result: DataFrame | None = None
        work = df
        out_cols: list[str] = []
        for li, level in enumerate(op.levels):
            of_name = level.of_name or (
                level.of_expr.name if isinstance(level.of_expr, Col) else f"level{li}"
            )
            agg_name = level.agg_name or f"aggregated_{of_name}"
            work = work.withColumn(of_name, tr.to_col(level.of_expr))
            keys = parents + [of_name]
            agg_out = AGG_REGISTRY[level.agg.name](
                self.expr_tr(work), level.agg.args, agg_name
            )
            grouped = work.groupBy(*keys).agg(*[c.alias(n) for n, c in agg_out])
            if level.n is not None:
                # tie-break on the `of` column (round 17): with the
                # aggregate alone, row_number picks a plan-dependent winner
                # among tied values — the round-17 fused single-task plans
                # changed physical row order and flipped a tied top-nested
                # result the r16 plans happened to get "right". Kusto
                # leaves ties unspecified; pinning of-ASC makes the result
                # plan-independent (and matches the differential twins).
                # Tie-free queries (every certified corpus entry — the
                # aggregates there are double sums) are bit-unchanged.
                order = [F.col(agg_name).desc(), F.col(of_name).asc()]
                w = (
                    Window.partitionBy(*parents).orderBy(*order)
                    if parents
                    else Window.partitionBy(F.lit(1)).orderBy(*order)
                )
                grouped = (
                    grouped.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") <= level.n)
                    .drop("__rn")
                )
                if level.with_others is not None:
                    # `with others = "L"` [KQL §2.3]: values outside the
                    # top-N fold into one bucket labeled L, re-aggregated
                    # from the underlying rows (correct for non-distributive
                    # aggs like avg/dcount, not just sum). The top keys are
                    # at most N x parent-combos -> broadcast to relabel, then
                    # one more partial-agg-capable groupBy. Deeper levels see
                    # the label as a regular value (they descend into the
                    # others bucket like any other).
                    topkeys = grouped.select(*keys).withColumn(
                        "__kqlin", F.lit(1)
                    )
                    work = (
                        work.join(F.broadcast(topkeys), on=keys, how="left")
                        .withColumn(
                            of_name,
                            F.when(
                                F.col("__kqlin").isNotNull(), F.col(of_name)
                            ).otherwise(F.lit(level.with_others)),
                        )
                        .drop("__kqlin")
                    )
                    agg_out = AGG_REGISTRY[level.agg.name](
                        self.expr_tr(work), level.agg.args, agg_name
                    )
                    grouped = work.groupBy(*keys).agg(
                        *[c.alias(n) for n, c in agg_out]
                    )
            if result is None:
                result = grouped
            else:
                result = result.join(grouped, on=parents, how="inner")
            parents = keys
            out_cols.extend([of_name, agg_name])
        self.order = None
        return result.select(*out_cols)

    def t_tophitters(self, df: DataFrame, op: TopHitters) -> DataFrame:
        tr = self.expr_tr(df)
        of_name = op.of_name or (
            op.of_expr.name if isinstance(op.of_expr, Col) else "value"
        )
        work = df.withColumn(of_name, tr.to_col(op.of_expr))
        if op.by_expr is not None:
            agg_col = F.sum(self.expr_tr(work).to_col(op.by_expr))
            agg_name = "approximate_sum_" + (
                op.by_expr.name if isinstance(op.by_expr, Col) else "value"
            )
        else:
            agg_col = F.count(F.lit(1))
            agg_name = "approximate_count_" + of_name
        out = (
            work.groupBy(of_name)
            .agg(agg_col.alias(agg_name))
            .orderBy(F.col(agg_name).desc())
            .limit(op.n)
        )
        self.order = [F.col(agg_name).desc()]
        return out

    # ------------------------------------------------------------ make-series
    def t_makeseries(self, df: DataFrame, op: MakeSeries) -> DataFrame:
        tr = self.expr_tr(df)
        axis_name = op.axis.name if isinstance(op.axis, Col) else "axis"
        axis_col = tr.to_col(op.axis)
        step_secs = tr.const_seconds(op.step)
        axis_dt = tr.dtype_of_ast(op.axis, axis_col)
        is_time = isinstance(axis_dt, (T.TimestampType, T.TimestampNTZType, T.DateType))

        axis_src: DataFrame | None = None
        if op.from_ is None or op.to is None:
            # data-dependent bounds, derived LAZILY: a 1-row min/max aggregate
            # broadcast-cross-joined onto the input (no driver-side action;
            # at scale this is one extra partial-agg pass). Bins stay
            # epoch-anchored, matching KQL's from-less behavior.
            b = df.agg(F.min(axis_col).alias("__amin"), F.max(axis_col).alias("__amax"))
            if is_time:
                us_b = int(round(step_secs * 1_000_000))
                lo_b = F.timestamp_micros(
                    (F.floor(F.unix_micros(F.col("__amin").cast("timestamp")) / F.lit(us_b)) * F.lit(us_b)).cast("bigint")
                )
                hi_b = F.timestamp_micros(
                    ((F.floor(F.unix_micros(F.col("__amax").cast("timestamp")) / F.lit(us_b)) + F.lit(1)) * F.lit(us_b)).cast("bigint")
                )
            else:
                step_b = tr.to_col(op.step).cast("double")
                lo_b = F.floor(F.col("__amin").cast("double") / step_b) * step_b
                hi_b = (F.floor(F.col("__amax").cast("double") / step_b) + F.lit(1.0)) * step_b
            bounds = b.select(lo_b.alias("__kqllo"), hi_b.alias("__kqlhi"))
            axis_src = bounds
            df = df.crossJoin(F.broadcast(bounds))
            lo = F.col("__kqllo")
            hi = F.col("__kqlhi")
        else:
            lo = tr.to_col(op.from_)
            hi = tr.to_col(op.to)
        if is_time:
            # buckets anchor at `from` (bin_at semantics) [KQL make-series]
            us = int(round(step_secs * 1_000_000))
            step_lit = F.make_dt_interval(secs=F.lit(step_secs))
            lo_us = F.unix_micros(lo.cast("timestamp"))
            x_us = F.unix_micros(axis_col.cast("timestamp"))
            binned = F.timestamp_micros(
                (lo_us + F.floor((x_us - lo_us) / F.lit(us)) * F.lit(us)).cast("bigint")
            )
            # KQL: axis end is exclusive
            seq = F.sequence(lo, hi - F.make_dt_interval(secs=F.lit(1e-6)), step_lit)
        else:
            # numeric axis: fractional steps are legal — build the grid from an
            # INTEGER sequence (F.sequence rejects fractional steps) as
            # lo + i*step, which is bit-identical to the bin expression below
            step_v = tr.to_col(op.step).cast("double")
            lo_d = lo.cast("double")
            binned = lo_d + F.floor((axis_col.cast("double") - lo_d) / step_v) * step_v
            n_bins = F.ceil((hi.cast("double") - lo_d) / step_v).cast("int")
            seq = F.transform(
                F.sequence(F.lit(0), F.greatest(n_bins, F.lit(1)) - F.lit(1), F.lit(1)),
                lambda i: lo_d + i.cast("double") * step_v,
            )
            lo, hi = lo_d, hi.cast("double")

        # materialize computed by-keys AND the binned axis under TEMP names so
        # they cannot shadow source columns the aggregates read (an axis named
        # `value` over agg `avg(value)` must see the ORIGINAL value column)
        by_items = self._named_items(df, op.by)
        key_tmps = [f"__kqlkey{i}" for i in range(len(by_items))]
        key_outs = [name for name, _ in by_items]
        work = df.withColumns(dict(zip(key_tmps, (c for _, c in by_items)))) if by_items else df
        axis_tmp = "__kqlaxis"
        work = work.withColumn(axis_tmp, binned).filter(
            (F.col(axis_tmp) >= lo) & (F.col(axis_tmp) < hi)
        )

        tr2 = self.expr_tr(work)
        agg_cols: list[tuple[str, Column]] = []
        for item in op.aggs:
            for out_name, col in self._translate_agg(tr2, item):
                agg_cols.append((out_name, col))
        # auto-bounds columns ride through both aggregation levels (they are
        # constant across all rows, so first() is exact)
        carry = (
            [F.first("__kqllo").alias("__kqllo"), F.first("__kqlhi").alias("__kqlhi")]
            if axis_src is not None
            else []
        )
        grouped = work.groupBy(*key_tmps, axis_tmp).agg(
            *[c.alias(n) for n, c in agg_cols], *carry
        )

        # Densification WITHOUT joins (round 5; the previous plan re-scanned
        # the source for distinct keys, cross-joined an exploded axis and
        # left-joined the aggregates — two extra exchanges plus a second
        # scan). Here: collapse each key's (bin -> aggs) pairs into a map,
        # then project the dense series as transform(sequence(lo, hi, step))
        # against the map. One scan, one full shuffle on (key, bin), one tiny
        # shuffle on key over #key x #bins aggregated rows — strictly fewer
        # exchanges at every scale, and the series arrays come out of
        # sequence() already ordered (no array_sort).
        entry_v = F.struct(*[F.col(n).alias(n) for n, _ in agg_cols])
        per_key_aggs = [
            F.map_from_entries(
                F.collect_list(F.struct(F.col(axis_tmp).alias("k"), entry_v.alias("v")))
            ).alias("__m")
        ]
        if axis_src is not None:
            per_key_aggs += [
                F.first("__kqllo").alias("__kqllo"),
                F.first("__kqlhi").alias("__kqlhi"),
            ]
        gb = grouped.groupBy(*key_tmps) if key_tmps else grouped.groupBy()
        out = gb.agg(*per_key_aggs)

        def _series(fname, dval):
            # closure factory: a default-arg lambda would make F.transform
            # pass the element INDEX as the second parameter
            return F.transform(
                seq,
                lambda b: F.coalesce(
                    F.element_at(F.col("__m"), b)[fname].cast("double"), dval
                ),
            )

        for (out_name, _), d in zip(agg_cols, op.defaults or [None] * len(agg_cols)):
            dval = (tr.to_col(d) if d is not None else F.lit(0.0)).cast("double")
            out = out.withColumn(out_name, _series(out_name, dval))
        out = out.withColumn(axis_name, seq).drop("__m", "__kqllo", "__kqlhi")
        if axis_src is not None:
            # empty input -> null bounds -> null series; drop the vacuous row
            out = out.filter(F.col(axis_name).isNotNull())
        out = out.withColumnsRenamed(dict(zip(key_tmps, key_outs)))
        self.order = None
        return out

    # ----------------------------------------------------------- misc tabular
    def t_getschema(self, df: DataFrame, op: GetSchema) -> DataFrame:
        fields = [
            f for f in df.schema.fields
            if not f.name.startswith(("__kql", "__row_order"))
        ]
        rows = [
            (f.name, i, str(f.dataType.simpleString()), kql_type_name(f.dataType))
            for i, f in enumerate(fields)
        ]
        return self.spark.createDataFrame(
            rows, "ColumnName string, ColumnOrdinal int, DataType string, ColumnType string"
        )

    def t_asop(self, df: DataFrame, op: AsOp) -> DataFrame:
        self.named_results[op.name] = df
        self._named_result_bytes[op.name] = self._src_bytes
        return df

    def t_invoke(self, df: DataFrame, op: Invoke) -> DataFrame:
        """`T | invoke f(args)` [KQL §2.2]: apply a stored tabular lambda —
        `let f = (t:(*), n:long) { t | where x > n };` — to the piped input.
        Pure inline expansion at translation time: the lambda's pipe runs with
        its table parameter bound to the incoming DataFrame and scalar
        parameters bound to the call arguments; no runtime dispatch."""
        bound = self.lets.get(op.name)
        if not isinstance(bound, Lambda):
            raise KqlSemanticError(f"invoke target {op.name!r} is not a lambda")
        if not isinstance(bound.body, Pipe):
            raise KqlSemanticError(
                f"invoke target {op.name!r} is a scalar lambda; invoke needs a "
                "tabular lambda (body `t | ...`)"
            )
        if not bound.params:
            raise KqlSemanticError("tabular lambda needs a table parameter")
        tname = bound.params[0][0]
        saved_results = dict(self.named_results)
        saved_lets = dict(self.lets)
        self.named_results[tname] = df
        self._named_result_bytes[tname] = self._src_bytes
        scalar_params = bound.params[1:]
        for (pname, _), arg in zip(scalar_params, op.args):
            self.lets[pname] = arg
        for pname, _ in scalar_params[len(op.args):]:
            if pname not in bound.defaults:
                raise KqlSemanticError(
                    f"missing argument for parameter {pname!r}"
                )
            self.lets[pname] = bound.defaults[pname]
        try:
            out = self.translate_pipe(bound.body)
        finally:
            self.named_results = saved_results
            self.lets = saved_lets
        self.order = None
        return out

    def t_render(self, df: DataFrame, op: Render) -> DataFrame:
        # rendering is client-side in Kusto [KQL]; attach metadata, no-op plan
        df._kql_render = {"chart": op.chart, **op.props}  # type: ignore[attr-defined]
        return df

    def t_consumeop(self, df: DataFrame, op: ConsumeOp) -> DataFrame:
        """`consume` executes the full query and discards the output [KQL —
        it exists so users can time a pipeline]. Eager by design (like
        toscalar): the noop write sink runs the complete plan JVM-side —
        every scan, filter, and shuffle, no rows to the driver — and the
        returned frame is the schema-preserving empty result. A limit(0)
        here would short-circuit the scan and time nothing."""
        df.write.format("noop").mode("overwrite").save()
        return df.limit(0)

    def _search_leaf_cond(self, df: DataFrame, leaf, ci: bool, lenient: bool):
        """One search-predicate leaf as a boolean Column over df. TERM
        matching (whole alphanumeric token), not substring: `search "err"`
        must not match "terror" — routed through the same word-boundary
        translation as `has`; `*` at either end of the literal relaxes that
        side's boundary (Kusto wildcard search). `Col == "v"` is exact,
        case-sensitive equality. A scoped column missing from df yields
        False only in the lenient cross-table form (tables lacking the
        column simply don't match); the single-table piped form raises, so
        a typo doesn't silently return zero rows."""
        tr = self.expr_tr(df)
        term = tr.const_string(leaf.term)
        cs = not ci
        if leaf.col is not None and leaf.col not in df.columns:
            if lenient:
                return F.lit(False)
            raise KqlSemanticError(f"search column {leaf.col!r} not found")
        if leaf.exact:
            return F.col(leaf.col) == F.lit(term)
        if leaf.col is not None:
            targets = [leaf.col]
        else:
            targets = [
                f.name for f in df.schema.fields
                if isinstance(f.dataType, T.StringType)
                and not f.name.startswith(("__kql", "__row_order"))
            ]
        if not targets:
            return F.lit(False)
        mode, text = "term", term
        if term.startswith("*") and term.endswith("*") and len(term) > 1:
            mode, text = "contains", term.strip("*")
        elif term.endswith("*"):
            mode, text = "prefix", term.rstrip("*")
        elif term.startswith("*"):
            mode, text = "suffix", term.lstrip("*")
        lit = Lit(text, "string")
        cond = F.lit(False)
        for name in targets:
            if mode == "contains":
                cond = cond | tr._contains(Col(name), lit, cs)
            else:
                cond = cond | tr._has(Col(name), lit, cs, mode)
        return cond

    def _search_cond(self, df: DataFrame, pred, ci: bool, lenient: bool = False):
        if isinstance(pred, tuple):
            kind, left, right = pred
            l = self._search_cond(df, left, ci, lenient)
            r = self._search_cond(df, right, ci, lenient)
            return (l & r) if kind == "and" else (l | r)
        return self._search_leaf_cond(df, pred, ci, lenient)

    def t_searchop(self, df: DataFrame, op: SearchOp) -> DataFrame:
        """`search [kind=...] [in (T1, ...)] pred` [KQL §2.13]: boolean
        combinations of terms, column-scoped terms, and exact matches. The
        `in (...)` form (or query-initial search) unions the named tables
        null-padded by name with a `$table` provenance column, each side
        filtered BEFORE the union so per-table predicate pushdown stays
        intact."""
        if op.tables is not None:
            # `T | search in (...)` would silently DISCARD the piped input;
            # Kusto only allows the in-form query-initial
            raise KqlSemanticError(
                "search in (...) must be the first operator of a query — "
                "the piped input would be ignored"
            )
        return df.filter(self._search_cond(df, op.pred, op.ci))

    def _search_tables(self, op: SearchOp, tables: list[str]) -> DataFrame:
        frames: list[tuple[str, DataFrame]] = []
        for t in tables:
            tdf = self._resolve_table(t)
            frames.append(
                (t, tdf.filter(self._search_cond(tdf, op.pred, op.ci, lenient=True)))
            )
        if not frames:
            raise KqlSemanticError("search in (...): no tables")
        return self._union(frames, "outer", "$table")

    def t_makegraph(self, df: DataFrame, op: MakeGraph) -> DataFrame:
        """`E | make-graph src --> dst [with Nodes on id]` [KQL graph]: bind
        the graph context (edges + nodes) for the following graph-match.
        Without an explicit nodes table, nodes are the distinct endpoint ids
        under `node_id`. Pass-through plan — nothing materializes here."""
        edges = df
        if op.nodes is not None:
            nodes = self.translate_pipe(op.nodes)
            node_id = op.node_id
            if node_id not in nodes.columns:
                raise KqlSemanticError(f"make-graph: node id {node_id!r} not in nodes")
        else:
            node_id = "node_id"
            nodes = (
                edges.select(F.col(op.src).alias(node_id))
                .union(edges.select(F.col(op.dst).alias(node_id)))
                .distinct()
            )
        self._graph = (edges, nodes, op.src, op.dst, node_id)
        return df

    def t_graphmatch(self, df: DataFrame, op: GraphMatch) -> DataFrame:
        """`| graph-match (a)-[e]->(b) [where ...] project ...` — fixed-
        length patterns lower to a chain of equi-joins (one per edge), with
        every variable packed as a struct column so `a.prop` resolves via
        ordinary property access. Repeated node variables (cycles) become
        equality filters instead of new joins. Variable-length edges
        (`*1..n`) are out of scope v1.

        Scale: each hop is a keyed equi-join on node ids — shuffles are
        id-partitioned and Catalyst may broadcast a small nodes side; no
        cartesian products for any pattern shape."""
        cur, _nid = self._graph_pattern_frame(op, "graph-match")
        if op.where is not None:
            cur = cur.filter(self.expr_tr(cur).to_col(op.where))
        if op.project:
            items = self._named_items(cur, op.project)
            cur = cur.select(*[c.alias(n) for n, c in items])
        self.order = None
        return cur

    def _graph_pattern_frame(self, op, opname: str) -> tuple[DataFrame, str]:
        """Lower a graph pattern (shared by graph-match and
        graph-shortest-paths) to the equi-join chain; returns the frame with
        every pattern variable bound as a struct/array column, plus the node
        id field name."""
        graph = getattr(self, "_graph", None)
        if graph is None:
            raise KqlSemanticError(f"{opname} requires a preceding make-graph")
        self._graph = None
        edges, nodes, src, dst, nid = graph

        def node_struct(var: str) -> DataFrame:
            return nodes.select(
                F.struct(*[F.col(c) for c in nodes.columns]).alias(var)
            )

        def edge_struct(var: str) -> DataFrame:
            return edges.select(
                F.struct(*[F.col(c) for c in edges.columns]).alias(var)
            )

        evars = [s.edge_var for s in op.steps]
        if len(set(evars)) != len(evars):
            raise KqlSemanticError("graph-match: edge variables must be distinct")
        cur = node_struct(op.start_var)
        bound = {op.start_var}
        prev = op.start_var
        for step in op.steps:
            if step.edge_var in bound:
                raise KqlSemanticError(
                    f"graph-match: {step.edge_var!r} already bound as a node"
                )
            if not (1 <= step.min_len <= step.max_len):
                raise KqlSemanticError("graph-match: bad *lo..hi edge bounds")
            if step.max_len > _GRAPH_VARLEN_CAP:
                raise KqlSemanticError(
                    f"graph-match: variable-length edges capped at "
                    f"*..{_GRAPH_VARLEN_CAP} (each hop is one keyed join; "
                    "Catalyst analysis cost grows with the unroll)"
                )
            from_field, to_field = (src, dst) if step.forward else (dst, src)
            plain = not getattr(step, "varlen", False)
            # bounded variable-length `-[e*lo..hi]->`: INCREMENTAL frontier
            # unroll (round 9) — one shared join chain built hop by hop,
            # with a variant captured at every length in [lo, hi]; the
            # per-length prefixes are identical subtrees, so planning adds
            # O(hi) joins (was O(hi^2) with independent chains) and
            # execution shares the shuffles via ReuseExchange. The edge var
            # binds to the ARRAY of edge structs; the lengths union.
            variants = []
            v = cur
            tmps: list = []
            for k in range(step.max_len):
                tmp = f"__kqle_{step.edge_var}_{k}"
                e = edge_struct(tmp)
                left_key = v[prev][nid] if not tmps else v[tmps[-1]][to_field]
                v = v.join(e, left_key == e[tmp][from_field], "inner")
                tmps.append(tmp)
                length = k + 1
                if length < step.min_len:
                    continue
                if plain:
                    vv = v.withColumnRenamed(tmps[0], step.edge_var)
                    last_to = F.col(step.edge_var)[to_field]
                else:
                    vv = v.withColumn(
                        step.edge_var, F.array(*[F.col(t) for t in tmps])
                    ).drop(*tmps)
                    last_to = F.element_at(F.col(step.edge_var), -1)[to_field]
                if step.node_var in bound:
                    # cycle back to an already-bound node -> equality filter
                    vv = vv.filter(F.col(step.node_var)[nid] == last_to)
                else:
                    n = node_struct(step.node_var)
                    vv = vv.join(n, last_to == n[step.node_var][nid], "inner")
                variants.append(vv)
            cur = variants[0]
            for v in variants[1:]:
                cur = cur.unionByName(v)
            bound.add(step.node_var)
            prev = step.node_var
        return cur, nid

    def t_graphshortestpaths(self, df: DataFrame, op) -> DataFrame:
        """`| graph-shortest-paths [output=any|all] (a)-[e*lo..hi]->(b)`
        [KQL graph]: shortest path per (source, target) pair among pattern
        matches satisfying the predicate. Bounded BFS via the same join
        unroll as graph-match (each candidate length is a keyed join chain),
        then one window shuffle on (source id, target id) keeps minimal
        lengths; `output=any` (default) keeps a single deterministic path
        per pair, `output=all` keeps every minimal path. Minimal paths are
        necessarily simple, so the unroll's revisiting walks are pruned by
        the minimization.

        Scale: hops are id-keyed equi-joins (no cartesians); the
        minimization is one hash-partitioned window — both shuffle-bounded
        at 100 TB."""
        cur, nid = self._graph_pattern_frame(op, "graph-shortest-paths")
        # predicate first: "shortest path SATISFYING the constraints"
        if op.where is not None:
            cur = cur.filter(self.expr_tr(cur).to_col(op.where))
        plen = F.lit(0)
        for step in op.steps:
            if step.min_len == 1 and step.max_len == 1:
                plen = plen + F.lit(1)
            else:
                plen = plen + F.size(F.col(step.edge_var))
        sid = F.col(op.start_var)[nid]
        tid = F.col(op.steps[-1].node_var)[nid]
        w = Window.partitionBy(sid, tid)
        cur = (
            cur.withColumn("__kql_plen", plen)
            .withColumn("__kql_minlen", F.min("__kql_plen").over(w))
            .filter(F.col("__kql_plen") == F.col("__kql_minlen"))
        )
        if op.output != "all":
            # deterministic representative: order ties by the serialized path
            tie = F.to_json(F.struct(*[F.col(s.edge_var) for s in op.steps]))
            rn = F.row_number().over(w.orderBy(tie))
            cur = cur.withColumn("__kql_rn", rn).filter(F.col("__kql_rn") == 1)
        cur = cur.drop("__kql_plen", "__kql_minlen", "__kql_rn")
        if op.project:
            items = self._named_items(cur, op.project)
            cur = cur.select(*[c.alias(n) for n, c in items])
        self.order = None
        return cur

    def t_graphtotable(self, df: DataFrame, op) -> DataFrame:
        """`| graph-to-table nodes|edges` [KQL graph]: export the bound
        graph context back to tabular form (pass-through plan)."""
        graph = getattr(self, "_graph", None)
        if graph is None:
            raise KqlSemanticError("graph-to-table requires a preceding make-graph")
        self._graph = None
        edges, nodes, _src, _dst, _nid = graph
        self.order = None
        return nodes if op.what == "nodes" else edges

    def t_graphmarkcomponents(self, df: DataFrame, op) -> DataFrame:
        """`| graph-mark-components [kind=weak|strong]
        [with_component_id=Col]` [KQL graph]: label every node with its
        weakly- (default) or strongly-connected component. Component id =
        the smallest node id in the component (deterministic, unlike
        Kusto's arbitrary ids — documented delta that makes the result
        oracle-checkable). Lowering: kind=weak is the min-id-propagation
        fixpoint that backs dedup_near/dedup_simhash (extensions/llm.py);
        kind=strong (round 9) is forward+reverse min-label peeling
        (_scc_labels). Both are per-round keyed joins + groupBy with a
        1-row driver probe per round, no other driver-side data."""
        graph = getattr(self, "_graph", None)
        if graph is None:
            raise KqlSemanticError(
                "graph-mark-components requires a preceding make-graph"
            )
        if op.kind not in ("weak", "strong"):
            raise KqlUnsupportedError(
                f"graph-mark-components: unknown kind {op.kind!r} "
                "(weak | strong)"
            )
        from .extensions.llm import _component_labels

        self._graph = None
        edges, nodes, src, dst, nid = graph
        e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        n = nodes.select(F.col(nid).alias("node")).distinct()
        labels = _scc_labels(n, e) if op.kind == "strong" else _component_labels(n, e)
        out = nodes.join(
            labels.withColumnRenamed("node", nid).withColumnRenamed(
                "comp", op.comp_col
            ),
            nid,
            "left",
        )
        self.order = None
        return out

    def t_facet(self, df: DataFrame, op: Facet) -> DataFrame:
        if op.subquery is not None:
            # `facet by c with ( subquery )` [KQL §2.13]: the subquery runs
            # per distinct value of the faceted column — exactly `partition
            # by`'s contract, so reuse its native (window/group) rewrite.
            # Kusto returns one table per faceted column; the single-
            # DataFrame API applies the subquery per column and unions when
            # schemas align (v1: single column is the common case).
            outs = [
                self.t_partitionop(df, PartitionOp(c, list(op.subquery)))
                for c in op.cols
            ]
            result = outs[0]
            for other in outs[1:]:
                result = result.unionByName(other, allowMissingColumns=True)
            self.order = None
            return result
        # eager by nature (SURVEY.md §3.2); v1 returns per-value counts union
        frames = []
        for c in op.cols:
            frames.append(
                df.groupBy(F.col(c).cast("string").alias("value"))
                .agg(F.count(F.lit(1)).alias("count_"))
                .withColumn("facet", F.lit(c))
            )
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        return out.select("facet", "value", "count_")

    def t_partitionop(self, df: DataFrame, op: PartitionOp) -> DataFrame:
        """`partition by key ( subquery )` [KQL §2.13] — run the subquery per
        distinct key value. Native rewrite, no per-key loop and no
        applyInPandas: order-sensitive ops (top / sort+take) become per-key
        WINDOW exprs (single shuffle on the key), key-invariant row ops apply
        directly, summarize gains the key as an extra group key."""
        key = op.key
        sub = df
        pending_sort: list[Column] | None = None
        pending_sort_keys = None  # raw SortKey list for pandas-side shards
        for sop in op.subquery:
            if isinstance(sop, Top):
                cols = self._sort_cols(sub, sop.keys)
                sub = self._per_key_topn(sub, key, cols, sop.n)
            elif isinstance(sop, Sort):
                pending_sort = self._sort_cols(sub, sop.keys)
                pending_sort_keys = sop.keys
            elif isinstance(sop, ScanOp):
                # sharded scan: one state machine per key, parallel across
                # keys (the 100 TB path for per-entity sequence detection)
                if pending_sort_keys is None:
                    raise KqlSemanticError(
                        "scan inside partition by needs a preceding sort by "
                        "to define the per-key serialized order"
                    )
                from .scan import run_scan_partitioned

                sub = run_scan_partitioned(
                    sub, sop, key, self._plain_sort_keys(pending_sort_keys), self
                )
                pending_sort = None
                pending_sort_keys = None
            elif isinstance(sop, Take):
                order = pending_sort or [F.monotonically_increasing_id().asc()]
                sub = self._per_key_topn(sub, key, order, sop.n)
                pending_sort = None
            elif isinstance(sop, Summarize):
                merged = Summarize(
                    aggs=sop.aggs,
                    by=list(sop.by) + [NamedExpr(key, Col(key))],
                )
                sub = self.t_summarize(sub, merged)
            elif isinstance(
                sop,
                (Where, Extend, Project, ProjectAway, ProjectKeep, ProjectRename,
                 Distinct, MvExpand, ParseOp),
            ):
                if isinstance(sop, Project):
                    items = list(sop.items)
                    if not any(
                        isinstance(i.expr, Col) and i.expr.name == key and not i.name
                        for i in items
                    ):
                        items.append(NamedExpr(None, Col(key)))
                    sop = Project(items)
                sub = self.translate_op(sub, sop)
            else:
                raise KqlUnsupportedError(
                    f"partition subquery operator {type(sop).__name__} not supported"
                )
        self.order = None
        return sub

    def _per_key_topn(
        self, df: DataFrame, key: str, order: list[Column], n: int
    ) -> DataFrame:
        w = Window.partitionBy(F.col(key)).orderBy(*order)
        return (
            df.withColumn("__kqlrn", F.row_number().over(w))
            .filter(F.col("__kqlrn") <= n)
            .drop("__kqlrn")
        )

    def t_mvapply(self, df: DataFrame, op: MvApply) -> DataFrame:
        """`mv-apply c on ( subquery )` [KQL §2.8] — expand the array
        per-row, run the subquery over each row's expansion, re-attach.
        Native rewrite: explode + implicit row-id group key; the row id is a
        monotonically_increasing_id (unique per row, no shuffle to assign).
        Row-wise subquery ops run as-is; summarize groups by the row id and
        joins the aggregates back to the source row."""
        rid = "__kqlmvrow"
        work = df.withColumn(rid, F.monotonically_increasing_id())
        if any(isinstance(sop, Summarize) for sop in op.subquery):
            # The aggregate path references `work` on BOTH sides of the
            # re-attach join. mIid is assignment-order-dependent: after an
            # upstream shuffle the two evaluations may number rows
            # differently and aggregates would re-attach to the wrong rows.
            # Pin the ids by materializing once (executor-local, no driver
            # collect; cost is one pass over the mv-apply input).
            work = work.localCheckpoint(eager=True)
        exp = self.t_mvexpand(
            work,
            MvExpand(
                items=op.items,
                to_type=op.to_type,
                with_itemindex=op.with_itemindex,
            ),
        )
        sub = exp
        aggregated = False
        for sop in op.subquery:
            if isinstance(sop, Summarize):
                merged = Summarize(
                    aggs=sop.aggs,
                    by=list(sop.by) + [NamedExpr(rid, Col(rid))],
                )
                sub = self.t_summarize(sub, merged)
                aggregated = True
            elif isinstance(sop, (Where, Extend)) and not aggregated:
                sub = self.translate_op(sub, sop)
            elif isinstance(sop, Project) and not aggregated:
                items = list(sop.items) + [NamedExpr(None, Col(rid))]
                sub = self.t_project(sub, Project(items))
            elif isinstance(sop, (Where, Extend, Project)):
                sub = self.translate_op(sub, sop)
            else:
                raise KqlUnsupportedError(
                    f"mv-apply subquery operator {type(sop).__name__} not supported in v1"
                )
        if aggregated:
            # re-attach the source row's columns to its aggregates
            keep = [c for c in sub.columns if c not in work.columns or c == rid]
            out = work.join(sub.select(*keep), on=rid, how="inner")
            if all(
                not sop.by
                for sop in op.subquery
                if isinstance(sop, Summarize)
            ):
                # Kusto: the subquery runs per record, and a GLOBAL summarize
                # over an empty expansion still yields its on-empty row
                # (count()=0, sum()=null, ...). Records whose expanded rows
                # all filtered out re-attach to that defaults row — computed
                # by replaying the subquery over a zero-row frame, which is
                # exactly Spark's global-aggregate-on-empty semantics.
                dsub = exp.limit(0)
                for sop in op.subquery:
                    if isinstance(sop, Summarize):
                        dsub = self.t_summarize(dsub, sop)
                    else:
                        dsub = self.translate_op(dsub, sop)
                dkeep = [c for c in dsub.columns if c not in work.columns]
                missing = work.join(sub.select(rid), on=rid, how="left_anti")
                out = out.unionByName(
                    missing.crossJoin(F.broadcast(dsub.select(*dkeep)))
                )
        else:
            out = sub
        self.order = None
        return out.drop(rid)

    def t_scanop(self, df: DataFrame, op) -> DataFrame:
        if self.order is None:
            raise KqlSemanticError(
                "scan requires a serialized input (use 'sort by' or 'serialize' "
                "first) [KQL]"
            )
        if self.streaming and df.isStreaming:
            from .scan import run_scan_streaming

            out = run_scan_streaming(
                df, op, self, getattr(self, "_stream_order", None) or []
            )
        else:
            from .scan import run_scan

            out = run_scan(df, op, self)
        self.order = None
        return out

    def t_evaluate(self, df: DataFrame, op: Evaluate) -> DataFrame:
        from .extensions import EVALUATE_REGISTRY

        impl = EVALUATE_REGISTRY.get(op.plugin)
        if impl is None:
            raise KqlUnsupportedError(f"evaluate plugin {op.plugin!r}")
        try:
            out = impl(self, df, op.args)
        except IndexError as exc:
            # unguarded args[i] in a plugin's translate-time arg parsing
            # (round 16 — a systematic 0/1-arg probe found 22 plugins
            # surfacing raw IndexError): the only-typed-KqlErrors
            # contract holds at the dispatch boundary for every current
            # and future plugin; the original traceback stays chained.
            # neutral wording (round 17, ADVICE): an IndexError here is
            # USUALLY a missing argument but can be any translate-time
            # indexing bug in the plugin body; include the original text
            # so a real bug isn't masked as an arity complaint.
            raise KqlSemanticError(
                f"evaluate {op.plugin}: argument parsing failed — see the "
                f"plugin's documented signature ({exc})"
            ) from exc
        # row-filtering plugins keep the input's serialized order [KQL];
        # everything else re-shapes rows and invalidates it
        if op.plugin not in ("rows_near",):
            self.order = None
        return out


import weakref

# Catalog cache per (session, sf_dir): a fresh Catalog per kql() call would
# re-read parquet footers and re-run scan analysis for every referenced
# table on every query (~0.3s of the ~0.6s sf1 bench per-query time).
# DataFrames are immutable so reuse is safe; WeakKey so a stopped session
# doesn't pin its catalog.
_CATALOG_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[str, Catalog]]" = (
    weakref.WeakKeyDictionary()
)


# Plan cache: Catalyst analysis + optimization + codegen + AQE setup cost
# ~0.5s per FRESH DataFrame (measured at sf1; execution of the same plan is
# ~0.05s). Repeated query text — the dashboard/steady-state case — reuses
# the translated DataFrame. Plans are cached, results are NOT: every
# collect() re-executes the full scan/shuffle. Skipped for queries with
# evaluation-time-dependent semantics (now/ago/rand/sample) and for
# caller-supplied catalogs/options (no stable key).
_PLAN_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)
_PLAN_CACHE_CAP = 256

# Volatility is decided on the PARSED AST, not by substring sniffing (round-5
# fix: a `sample_rate` column used to defeat caching, and `"now("` inside a
# string literal used to false-positive). A plan is volatile — translated
# fresh on every call — when it contains:
#  - evaluation-time-dependent functions (now/ago/rand/new_guid),
#  - sampling operators (results differ per run),
#  - externaldata (file contents may change between calls),
#  - consume (exists precisely to re-execute),
#  - toscalar()/materialize() (they evaluate AT TRANSLATE TIME — caching the
#    plan would freeze their results across data changes, contradicting the
#    "plans cached, results never" contract).
_VOLATILE_FUNCS = frozenset({"now", "ago", "rand", "new_guid", "toscalar", "materialize"})

# functions that require the hidden file-source `_metadata` columns to be
# attached at the table scan (scalar.py ingestion-metadata family)
_INGEST_META_FUNCS = frozenset(
    {"ingestion_time", "extent_id", "extent_tags", "cursor_after",
     "cursor_before_or_at"}
)
_INGEST_META_COLS = frozenset({"__kql_ingest_ts", "__kql_extent_path"})

# evaluate plugins that materialize data at translate time (localCheckpoint,
# KMeans/LSH fits, count/collect) — caching their plan would freeze results
# across data changes, same contract as toscalar/materialize
_VOLATILE_PLUGINS = frozenset(
    {
        "dedup_near", "dedup_against", "dedup_simhash", "dedup_embedding",
        "dedup_jaccard",
        "similarity_join",
        "similarity_search_ivf", "basket", "autocluster", "bag_unpack",
        "diffpatterns", "diffpatterns_text",
        # side-effecting at translate time (writes the index/table): a
        # cached plan would return the OLD data without rewriting (r12/r13)
        "ann_index_build", "minhash_index_build", "sink_bucketed",
        "ann_index_update", "minhash_index_update",
        # reads store state at translate time: a cached plan would freeze
        # a health snapshot (round 14)
        "index_stats",
    }
)

# materialize() persists live for the session; cap how many persisted frames
# can pile up per SparkSession (oldest unpersisted first — executor storage
# is not a leak site for long sessions issuing many materialize() queries).
_PERSISTED: "weakref.WeakKeyDictionary[SparkSession, list[DataFrame]]" = (
    weakref.WeakKeyDictionary()
)
_PERSISTED_CAP = 32


def _register_persist(spark: SparkSession, df: DataFrame) -> None:
    lst = _PERSISTED.setdefault(spark, [])
    lst.append(df)
    while len(lst) > _PERSISTED_CAP:
        old = lst.pop(0)
        try:
            old.unpersist()
        except Exception:
            pass  # session shutting down — nothing to release


def _split_conjuncts(pred) -> list:
    """Flatten a top-level `and` chain into its conjuncts."""
    if isinstance(pred, BinOp) and pred.op == "and":
        return _split_conjuncts(pred.left) + _split_conjuncts(pred.right)
    return [pred]


def _param_literal(value, ktype: str) -> Expr:
    """Python value supplied for a declared query parameter -> literal AST
    of the DECLARED type (strings for datetime/timespan/dynamic params pass
    through the same literal parsers the query text would use)."""
    import datetime as _dt

    if value is None:
        return Lit(None, "null")
    if ktype in ("datetime", "date"):
        raw = value.isoformat() if isinstance(value, _dt.datetime) else str(value)
        return TypedLit("datetime", raw)
    if ktype in ("timespan", "time"):
        raw = (
            f"{value.total_seconds()}s"
            if isinstance(value, _dt.timedelta)
            else str(value)
        )
        return TypedLit("timespan", raw)
    if ktype == "dynamic":
        import json as _json

        raw = value if isinstance(value, str) else _json.dumps(value)
        return TypedLit("dynamic", raw)
    if ktype == "bool":
        return Lit(bool(value), "bool")
    if ktype in ("long", "int"):
        return Lit(int(value), "long")
    if ktype in ("real", "double", "decimal"):
        return Lit(float(value), "real")
    return Lit(str(value), "string")


def _walk_ast(node):
    import dataclasses

    stack = [node]
    while stack:
        x = stack.pop()
        if dataclasses.is_dataclass(x) and not isinstance(x, type):
            yield x
            for f in dataclasses.fields(x):
                stack.append(getattr(x, f.name))
        elif isinstance(x, (list, tuple)):
            stack.extend(x)
        elif isinstance(x, dict):
            stack.extend(x.values())


# AnalysisException conditions that indicate a problem with the USER's
# query (bad column, bad type, bad call), vs an internal engine defect.
# Prefix-matched against getCondition(); legacy exceptions with no
# condition are treated as user-level (pre-error-class Spark messages are
# overwhelmingly resolution failures).
_USER_ANALYSIS_PREFIXES = (
    "UNRESOLVED_",
    "UNRESOLVABLE_",
    "CANNOT_RESOLVE",
    "COLUMN_NOT_FOUND",
    "FIELD_NOT_FOUND",
    "AMBIGUOUS_",
    "DATATYPE_MISMATCH",
    "DATA_TYPE_MISMATCH",
    "CAST_",
    "INVALID_",
    "WRONG_NUM_ARGS",
    "NUM_ARGS",
    "GROUP_BY",
    "MISSING_",
    "NON_",
    "UNSUPPORTED_",
    "TABLE_OR_VIEW_NOT_FOUND",
    "PARSE_",
    "PATH_NOT_FOUND",
    "ORDER_BY_POS_OUT_OF_RANGE",
    "GROUP_BY_POS_OUT_OF_RANGE",
    "NESTED_AGGREGATE_FUNCTION",
    "STAR_GROUP_BY_POS",
)


def _is_user_analysis_error(cond: str) -> bool:
    if not cond:
        return True
    return cond.startswith(_USER_ANALYSIS_PREFIXES) or cond.startswith("_LEGACY")


def _plan_is_volatile(q: Query) -> bool:
    volatile_nodes = (SampleOp, SampleDistinct, ExternalData, ConsumeOp, ToScalar)
    # tabular `in` as a where-conjunct lowers to a lazy semi-join (cache-safe:
    # re-executes per run); anywhere else it eager-collects like toscalar and
    # must not be plan-cached
    lazy_ins: set[int] = set()
    for node in _walk_ast(q):
        if isinstance(node, Where):
            for c in _split_conjuncts(node.pred):
                if isinstance(c, InList) and c.table is not None:
                    lazy_ins.add(id(c))
    for node in _walk_ast(q):
        if isinstance(node, InList) and node.table is not None and id(node) not in lazy_ins:
            return True
        if isinstance(node, volatile_nodes):
            return True
        if isinstance(node, TableRef) and node.args is not None and node.name.lower() in (
            "external_table", "materialized_view"
        ):
            # their file listings are snapshotted at translate time — a
            # cached plan would never see newly-arrived files
            return True
        if isinstance(node, FuncCall) and node.name.lower() in _VOLATILE_FUNCS:
            return True
        if isinstance(node, FuncCall) and node.name.lower() in _INGEST_META_FUNCS:
            # ingestion-cursor queries reason about data arrival; the scan's
            # file listing is snapshotted per translation, so never cache
            return True
        if isinstance(node, Evaluate) and node.plugin in _VOLATILE_PLUGINS:
            return True
        if (
            isinstance(node, Evaluate)
            and node.plugin == "similarity_search_ivfpq"
            and len(node.args) > 8
        ):
            # prebuilt-index form: reads the index snapshot + staleness-
            # counts the corpus at translate time — a cached plan would
            # miss a rebuilt index (round 12). The session-cached form
            # (no path arg) stays plan-cacheable as before.
            return True
        if isinstance(node, Pipe) and node.materialize:
            return True
    return False


# Small-plan gate: below this many on-disk source bytes a query's whole
# input fits in a few tasks, so the translator makes plan-local choices
# that trade parallelism for fewer stages — single-partition sorts (no
# range-partitioner sampling job), no split-distinct rewrite, no AQE
# probe (PipeTranslator.small_plan) — and, for single-row-group sources,
# the single-task fusion below. Session conf is neither read nor written
# here; with AQE on, Spark coalesces tiny shuffles at run time.
# Conservative by construction: any source that is not a sized parquet
# file (registered DataFrame, range, externaldata, wildcard, all-tables
# search) or a row-expanding op keeps the scale path
# (_total_source_bytes), and at cluster scale every real table clears the
# threshold. 0 turns the gate off.
_SMALL_QUERY_BYTES = 32 * 1024 * 1024

# Single-task fused plans (round 17, guide §2.4): below this many on-disk
# source bytes — at most one default scan split of data — AND with every
# source a single parquet row group (scan unsplittable anyway), each scan
# is coalesced to 1 partition so the whole query plans with ZERO Exchange
# (SinglePartition satisfies every clustering requirement): one stage, one
# task, no shuffle serialization, no reduce-task scheduling. -1 turns the
# fusion off.
_SINGLE_TASK_BYTES = 8 * 1024 * 1024

# Plan rewrites that are on in every deployment. Tests turn one off to get
# the unrewritten plan as a parity reference, so each is read at call time.
_SPLIT_DISTINCT = True  # PipeTranslator._summarize_split
_AQE_PROBE = True  # PipeTranslator._aqe_probe
_AUTO_BROADCAST = True  # PipeTranslator._auto_broadcast


def _projected_name(item, auto_i: int, auto_prefix: str = "Column"):
    """The output name a single-target Project/Extend NamedExpr binds
    (explicit name, bare-column self-name, bin() source-column rebind,
    Column{n} auto-name) — returns (name, auto_i)."""
    if item.name:
        return item.name, auto_i
    if isinstance(item.expr, Col) and item.expr.side is None:
        return item.expr.name, auto_i
    if (
        isinstance(item.expr, FuncCall)
        and item.expr.name == "bin"
        and item.expr.args
        and isinstance(item.expr.args[0], Col)
    ):
        return item.expr.args[0].name, auto_i
    auto_i += 1
    return f"{auto_prefix}{auto_i}", auto_i


# Operators whose output size is not bounded by their input's source
# bytes (row expansion or arbitrary sub-pipelines): they reset the
# auto-broadcast source-bytes estimate to unknown (translate_op).
_SIZE_OPAQUE_OPS = frozenset(
    {
        "MvExpand", "MvApply", "Evaluate", "ScanOp", "Fork", "Facet",
        "Union", "SearchOp", "Invoke", "PartitionOp", "ReduceOp",
        "MakeGraph", "GraphMatch", "GraphShortestPaths", "GraphToTable",
        "GraphMarkComponents", "MakeSeries",
    }
)

# Scalar functions whose output size is NOT bounded by their input size
# (output scales with a numeric argument or a compression ratio): an
# extend/project computing one of these invalidates the source-bytes
# upper estimate used by auto-broadcast (translate_op). Everything else
# an extend can add is bounded by a constant multiple of the row it
# read (substrings, parses, casts, hashes, fixed-size literals).
_GROWTH_FNS = frozenset(
    {
        "strrep", "repeat", "range",
        "zlib_decompress_from_base64_string",
        "gzip_decompress_from_base64_string",
    }
)

# Operators that can EXPAND row counts beyond any function of source
# bytes — they disqualify small-plan mode (_total_source_bytes).
# Narrower than _SIZE_OPAQUE_OPS: make-series/facet/fork/union only
# regroup or concatenate sized inputs, but these fan out per row
# (mv-expand/mv-apply/plugins/graph patterns/scan step chains).
_ROW_EXPANDING_OPS = frozenset(
    {
        "MvExpand", "MvApply", "Evaluate", "ScanOp",
        "GraphMatch", "GraphShortestPaths",
    }
)

# Aggregates lowering to Spark count_distinct (the split-distinct
# rewrite's trigger set — see _summarize_split)
_DISTINCT_AGG_FNS = frozenset(
    {"dcount", "dcountif", "count_distinct", "count_distinctif"}
)

_SIZE_SUFFIXES = {
    "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40, "tb": 1 << 40,
}


def _parse_size_bytes(s: str) -> int:
    """Spark size-conf string ('10MB', '10485760b', '-1') -> bytes."""
    m = re.fullmatch(r"(-?\d+)\s*([a-zA-Z]*)", str(s).strip())
    if not m:
        return -1
    return int(m.group(1)) * _SIZE_SUFFIXES.get(m.group(2).lower(), 1)

# variable-length graph-pattern cap (round 9: raised 8 -> 16 after the
# incremental-frontier unroll made planning O(hi) joins instead of
# O(hi^2); 16 covers real reachability patterns with sub-second Catalyst
# analysis). Planning cost scales ~linearly with the cap.
_GRAPH_VARLEN_CAP = 16

# Graph caps for graph-mark-components kind=strong, read at call time:
# - _GRAPH_PROPAGATION_ROUNDS: directed min-propagation round cap
#   (distributed SCC path only). Round r covers paths of length <= r, so
#   this bounds usable graph DIAMETER on the distributed path — hitting it
#   raises a typed error (round 10; it previously returned unconverged
#   labels, which the SCC peel would have turned into spurious singleton
#   components).
# - _GRAPH_LOCAL_ELEMS: graphs whose node+edge count fits this bound run
#   exact Tarjan SCC on collected edges (Kusto's make-graph is an
#   in-memory construct with documented memory caps, so a bounded
#   driver-side pass is semantically faithful to the reference surface —
#   same documented-bounded-collect pattern as the PQ 16k train sample and
#   the tabular-`in` 1M cap). Graphs beyond it use the distributed
#   forward/backward peeling, whose round cap is diameter-bounded.
_GRAPH_PROPAGATION_ROUNDS = 64
_GRAPH_LOCAL_ELEMS = 2_000_000


def _scc_labels_local(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Exact SCC on a collected edge list via iterative Tarjan — the fast
    path for graphs under _GRAPH_LOCAL_ELEMS elements (the overwhelmingly
    common case: Kusto's make-graph is an in-memory construct). Component
    id = min node id in the SCC, matching the distributed path's
    contract. No diameter bound — a 2^20-node path or cycle is exact."""
    node_ids = [r[0] for r in nodes.select("node").collect()]
    edge_rows = [
        (r[0], r[1]) for r in edges.select("src", "dst").collect()
    ]
    index = {v: i for i, v in enumerate(node_ids)}
    n = len(node_ids)
    adj: list[list[int]] = [[] for _ in range(n)]
    for s, d in edge_rows:
        si, di = index.get(s), index.get(d)
        if si is not None and di is not None:
            adj[si].append(di)
    # iterative Tarjan (explicit stack; recursion depth = graph size)
    UNVISITED = -1
    low = [0] * n
    num = [UNVISITED] * n
    on_stack = [False] * n
    scc_of = [UNVISITED] * n
    stack: list[int] = []
    counter = 0
    n_sccs = 0
    for root in range(n):
        if num[root] != UNVISITED:
            continue
        work = [(root, 0)]
        while work:
            v, pi = work.pop()
            if pi == 0:
                num[v] = low[v] = counter
                counter += 1
                stack.append(v)
                on_stack[v] = True
            recurse = False
            for i in range(pi, len(adj[v])):
                w = adj[v][i]
                if num[w] == UNVISITED:
                    work.append((v, i + 1))
                    work.append((w, 0))
                    recurse = True
                    break
                if on_stack[w]:
                    low[v] = min(low[v], num[w])
            if recurse:
                continue
            if low[v] == num[v]:
                while True:
                    w = stack.pop()
                    on_stack[w] = False
                    scc_of[w] = n_sccs
                    if w == v:
                        break
                n_sccs += 1
            if work:
                low[work[-1][0]] = min(low[work[-1][0]], low[v])
    # comp label = min node id per SCC (the documented deterministic id)
    comp_min: dict[int, object] = {}
    for i, v in enumerate(node_ids):
        c = scc_of[i]
        if c not in comp_min or v < comp_min[c]:
            comp_min[c] = v
    spark = nodes.sparkSession
    out_rows = [(v, comp_min[scc_of[i]]) for i, v in enumerate(node_ids)]
    return spark.createDataFrame(
        out_rows, schema=nodes.select("node", F.col("node").alias("comp")).schema
    )


def _scc_labels(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Strongly-connected components by iterative min-label peeling
    (round 9, the forward+reverse propagation VERDICT r8 prescribed):
    per outer round, f(v) = min id reachable FROM v, b(v) = min id that
    REACHES v, both over the remaining induced subgraph; nodes with
    f(v) == b(v) == m are exactly the SCC of m (v reaches m and m reaches
    v), get comp = m, and are peeled. Each round assigns at least the SCC
    of the smallest remaining id (its f = b = itself), so the loop
    terminates in <= #SCC rounds — typically 1-2 on real graphs (every
    SCC whose min is not forward/backward-dominated assigns in parallel).
    All set algebra is keyed joins; the only driver data is a 1-row
    emptiness probe per round.

    Round 10: graphs whose node+edge count fits _GRAPH_LOCAL_ELEMS run
    _scc_labels_local (exact Tarjan, no diameter bound) instead — see
    that docstring for why the bounded collect is faithful to Kusto's
    in-memory graph semantics. The distributed peeling below is the
    >2M-element scale path. Each direction's labels come from
    extensions.llm._min_label_propagation over the directed edges; an
    unconverged direction raises rather than peel partial labels."""
    from .errors import KqlLimitError
    from .extensions.llm import _min_label_propagation

    def reach_min(nodes: DataFrame, edges: DataFrame) -> DataFrame:
        rounds = _GRAPH_PROPAGATION_ROUNDS
        labels, converged = _min_label_propagation(nodes, edges, rounds)
        if not converged:
            raise KqlLimitError(
                "graph-mark-components kind=strong: directed min-propagation "
                f"did not converge within {rounds} rounds (the graph "
                "diameter exceeds the distributed propagation bound, and "
                f"only graphs of at most {_GRAPH_LOCAL_ELEMS} nodes+edges "
                "take the exact path)"
            )
        return labels

    edges = edges.localCheckpoint(eager=True)
    # single-job routing probe (round 11, ADVICE): limit(cap+1) over the
    # unioned 1-lit projections short-circuits once the cap is exceeded,
    # instead of two full count() jobs that large graphs paid just to
    # learn they take the distributed path
    cap = _GRAPH_LOCAL_ELEMS
    n_elems = (
        nodes.select(F.lit(1).alias("__e"))
        .unionAll(edges.select(F.lit(1).alias("__e")))
        .limit(cap + 1)
        .count()
    )
    if n_elems <= cap:
        return _scc_labels_local(nodes, edges)
    remaining = nodes.localCheckpoint(eager=True)
    out: DataFrame | None = None
    for _ in range(64):
        if remaining.limit(1).count() == 0:
            return out if out is not None else remaining.withColumn(
                "comp", F.col("node")
            )
        sub = edges.join(
            remaining.withColumnRenamed("node", "src"), "src", "left_semi"
        ).join(remaining.withColumnRenamed("node", "dst"), "dst", "left_semi")
        fwd = reach_min(remaining, sub)
        bwd = reach_min(
            remaining,
            sub.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        )
        lab = (
            fwd.withColumnRenamed("comp", "__f")
            .join(bwd.withColumnRenamed("comp", "__b"), "node")
            .filter(F.col("__f") == F.col("__b"))
            .select("node", F.col("__f").alias("comp"))
            .localCheckpoint(eager=True)
        )
        out = lab if out is None else out.unionByName(lab).localCheckpoint(
            eager=True
        )
        remaining = remaining.join(
            lab.select("node"), "node", "left_anti"
        ).localCheckpoint(eager=True)
    raise KqlLimitError(
        "graph-mark-components kind=strong: component peeling did not "
        "converge within 64 rounds (graph has >64 nested SCC layers or "
        "diameter beyond the propagation bound)"
    )


def _total_source_bytes(
    q: Query, catalog: Catalog
) -> tuple[int, list[str]] | None:
    """(sum of on-disk bytes, table names) for every table the query
    reads, or None when any source's size is unknown (callers must then
    assume big)."""
    from .ast_nodes import Source

    let_names = {l.name for l in q.lets}
    sized_sources = (DataTable, PrintSource, PipeSource, UnionSource)
    total = 0
    names: list[str] = []
    for node in _walk_ast(q):
        if isinstance(node, TableRef):
            if node.name in let_names or node.args is not None:
                continue
            if "*" in node.name:
                return None
            sz = catalog.file_size(node.name)
            if sz is None:
                return None
            total += sz
            names.append(node.name)
        elif isinstance(node, FindSource):
            if not node.tables:
                return None  # bare `find "term"` reads every catalog table
            for t in node.tables:
                sz = catalog.file_size(t) if "*" not in t else None
                if sz is None:
                    return None
                total += sz
                names.append(t)
        elif isinstance(node, SearchSource):
            if node.op.tables is None:
                return None  # query-initial search over all catalog tables
        elif isinstance(node, SearchOp):
            for t in node.tables or ():
                sz = catalog.file_size(t) if "*" not in t else None
                if sz is None:
                    return None
                total += sz
                names.append(t)
        elif isinstance(node, Source) and not isinstance(node, sized_sources):
            # RangeSource/ExternalData/future source kinds: unbounded or
            # unknown input — never claim small
            return None
        elif type(node).__name__ in _ROW_EXPANDING_OPS:
            # on-disk bytes are the wrong size signal once the pipeline
            # fans rows out: sf10 documents is a 4.5MB file (compressed
            # word soup) that explodes into 26M n-grams — the round-11
            # small plan (then 4 shuffle partitions) put that fan-out on
            # 4 reducers (engine 18.8s vs 6.8s with the normal plan), and
            # single-task fusion would put it on one.
            # Never claim small for expanding queries; the latency cost
            # for genuinely tiny ones is a few extra scheduling ms.
            return None
    return total, names


def _translate_size_gated(
    spark: SparkSession, q: Query, catalog: Catalog, options: dict | None
) -> DataFrame:
    """Translate q, in small-plan mode when its sources are sized and
    total under _SMALL_QUERY_BYTES (see PipeTranslator.__init__)."""
    sized = _total_source_bytes(q, catalog)
    if sized is None or sized[0] >= _SMALL_QUERY_BYTES:
        return PipeTranslator(spark, catalog, options).translate_query(q)
    tiny, src_names = sized
    # single-task gate (round 17): every file source must be a single
    # parquet row group — then no split size can parallelize any scan and
    # the fused zero-Exchange plan gives up nothing (see PipeTranslator
    # __init__) — AND the total input must fit one default scan split
    # (<=8MB): the Coalesce(1) node is a codegen boundary, so every
    # pre-aggregation row crosses a generated-iterator edge that the
    # unfused plan's scan+filter+partial-agg single codegen region does
    # not pay. Measured interleaved at sf0.1 (round 17): <=2.7MB sources
    # win 20-43% (argmax 0.60x, json 0.57x, bin 0.74x, make-series
    # 0.78x, has-scan 0.80x); the 11MB lineitem aggs pay the boundary on
    # 600k raw rows and lose (q1 1.40x) — hence the byte gate. A
    # multi-row-group source (e.g. a CPU-heavy JSON scan at sf1) keeps
    # its parallel scan either way.
    fuse = tiny <= _SINGLE_TASK_BYTES and all(
        catalog.single_split(n) for n in src_names
    )
    return PipeTranslator(
        spark, catalog, options, small_plan=True, single_task=fuse
    ).translate_query(q)


def kql(
    spark: SparkSession,
    text: str,
    catalog: Catalog | None = None,
    sf_dir: str | None = None,
    options: dict | None = None,
) -> DataFrame:
    """Primary entry point: KQL text -> DataFrame (SURVEY.md §3.2)."""
    plan_key = None
    if catalog is None and options is None:
        plan_key = (sf_dir or "", text)
        plans = _PLAN_CACHE.setdefault(spark, {})
        hit = plans.get(plan_key)
        if hit is not None:
            return hit
    if catalog is None:
        per_session = _CATALOG_CACHE.setdefault(spark, {})
        key = sf_dir or ""
        catalog = per_session.get(key)
        if catalog is None:
            catalog = Catalog(spark, sf_dir)
            per_session[key] = catalog
    try:
        q = parse(text)
        out = _translate_size_gated(spark, q, catalog, options)
    except RecursionError:
        # mirror Kusto's query-complexity cap with a typed error instead of
        # leaking the interpreter's RecursionError
        raise KqlSyntaxError(
            "query is too deeply nested for this engine", text, 0
        ) from None
    except AnalysisException as exc:
        # DataFrame transformations analyze eagerly, so unresolved columns
        # and type mismatches Spark catches surface here at translate time;
        # Kusto reports these as semantic errors, not engine internals.
        # Only relabel error classes caused by USER input — an
        # AnalysisException from an engine bug (e.g. a plugin referencing a
        # dropped __kql temp column) must propagate as-is, not masquerade
        # as a user semantic error.
        cond = exc.getCondition() or ""
        msg = str(exc)
        # the headline names the offending identifier; the plan dump below
        # it legitimately contains engine temp aliases even for user errors
        headline = msg.splitlines()[0] if msg else ""
        if "`__kql" in headline or not _is_user_analysis_error(cond):
            raise
        # keep the original Spark error class in the message: the prefix
        # match above is deliberately broad, so a misclassified engine
        # error must stay diagnosable from the user-facing text alone
        # (skip when Spark's own headline already leads with it)
        tag = f" [{cond}]" if cond and f"[{cond}]" not in headline else ""
        raise KqlSemanticError(
            "semantic error: " + msg.split(";")[0].strip() + tag
        ) from exc
    if plan_key is not None and not _plan_is_volatile(q):
        plans = _PLAN_CACHE.setdefault(spark, {})
        if len(plans) >= _PLAN_CACHE_CAP:
            plans.pop(next(iter(plans)))
        plans[plan_key] = out
    return out
