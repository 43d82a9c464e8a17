"""`scan` operator runtime (SURVEY.md §2.11/§2.13): row-sequence state
machine over a serialized table.

CONCURRENT-SEQUENCE matching model (round 5; follows the public
scan-operator docs: multiple overlapping sequences may be active, at most
one per step). Each step k holds at most one active sequence — a bundle of
(declared-variable values, matched-row snapshots `s<k>.col`, match id).
For every record r, steps are evaluated from the LAST step down to the
first; the first rule that fires consumes the record:

1. *promotion* (k >= 2): step k-1 holds a sequence and r satisfies step
   k's condition in that sequence's context. The sequence MOVES to step k
   (step k-1 is vacated; any sequence already at step k is discarded),
   step k's assignments run, r is emitted. If k is the last step, the
   match COMPLETES: r is emitted and the sequence is discarded.
2. *extension*: step k holds a sequence and r satisfies step k's
   condition in its own context. The sequence absorbs r (assignments run,
   r emitted) and stays at step k.
3. *new sequence* (k == 1 only, after extension fails): r satisfies step
   1's condition under the declared defaults. A fresh sequence (next match
   id) replaces whatever was at step 1.

Consequences, all matching documented behavior: a single-step scan never
completes-and-resets, so `step s1: true => c = x + s1.c` yields the
documented cumulative sum; an interleaved restart (view..view..click)
does NOT kill an in-flight sequence parked at a later step — up to
n_steps matches progress concurrently; `with_match_id` ids are assigned
at sequence creation, in serialized input order.

Execution is inherently sequential (KQL defines scan over the serialized
order), so the plan is coalesce(1) + mapInPandas with cross-batch state in
the generator closure. Scale note: a global scan is a single-walker
operation by SPEC, not an implementation shortcut — shard scans with
`partition by` semantics upstream when per-key scans are what's meant.

Step conditions/assignments are evaluated by a restricted Python-side
interpreter (arithmetic, comparisons, boolean ops, step references
`s1.col`, declared state, and a small function whitelist) — scan state
cannot be columnar, so this is the honest slow path; everything else in the
engine stays JVM-side.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .ast_nodes import (
    Between, BinOp, Col, Expr, FuncCall, InList, Lit, Property, ScanOp,
    TypedLit, UnaryOp,
)
from .errors import KqlSemanticError, KqlUnsupportedError
from .semantics import KQL_TO_SPARK, parse_kql_datetime

# Env = (row, steps_vals, state)
Compiled = Callable[[dict, dict, dict], object]


def _cmp(op: str):
    import operator

    base = {
        "==": operator.eq, "!=": operator.ne, "<": operator.lt,
        "<=": operator.le, ">": operator.gt, ">=": operator.ge,
    }[op]

    def run(a, b):
        if a is None or b is None:
            return None
        return base(a, b)

    return run


_ARITH = {
    "+": lambda a, b: None if a is None or b is None else a + b,
    "-": lambda a, b: None if a is None or b is None else a - b,
    "*": lambda a, b: None if a is None or b is None else a * b,
    "/": lambda a, b: None if a is None or b is None or b == 0 else (
        a / b if not isinstance(a, int) or not isinstance(b, int) else a / b
    ),
    "%": lambda a, b: None if a is None or b is None or b == 0 else a % b,
}

_FUNCS: dict[str, Callable] = {
    "iff": lambda p, a, b: a if p is True else b,
    "iif": lambda p, a, b: a if p is True else b,
    "isnull": lambda v: v is None,
    "isnotnull": lambda v: v is not None,
    "isempty": lambda v: v is None or v == "",
    "isnotempty": lambda v: v is not None and v != "",
    "coalesce": lambda *vs: next((v for v in vs if v is not None), None),
    "strcat": lambda *vs: "".join("" if v is None else str(v) for v in vs),
    "tostring": lambda v: "" if v is None else str(v),
    "tolong": lambda v: None if v is None else int(v),
    "todouble": lambda v: None if v is None else float(v),
    "toreal": lambda v: None if v is None else float(v),
    "abs": lambda v: None if v is None else abs(v),
    "min_of": lambda *vs: min((v for v in vs if v is not None), default=None),
    "max_of": lambda *vs: max((v for v in vs if v is not None), default=None),
    "not": lambda v: None if v is None else not v,
}


def compile_expr(e: Expr, step_names: set[str]) -> Compiled:
    if isinstance(e, Lit):
        if e.ktype == "timespan":
            td = _dt.timedelta(seconds=float(e.value))
            return lambda r, s, st: td
        v = e.value
        return lambda r, s, st: v
    if isinstance(e, TypedLit):
        if e.ktype == "datetime":
            dtv = parse_kql_datetime(e.raw)
            return lambda r, s, st: dtv
        if e.ktype == "timespan":
            from .translator import _parse_timespan_raw

            secs = _parse_timespan_raw(e.raw)
            td = None if secs is None else _dt.timedelta(seconds=secs)
            return lambda r, s, st: td
        raise KqlUnsupportedError(f"scan: literal {e.ktype} not supported")
    if isinstance(e, Col):
        name = e.name
        return lambda r, s, st: st[name] if name in st else r.get(name)
    if isinstance(e, Property):
        if (
            isinstance(e.base, Col)
            and e.base.name in step_names
            and isinstance(e.key, (Lit, Col))
        ):
            step = e.base.name
            key = e.key.value if isinstance(e.key, Lit) else e.key.name
            return lambda r, s, st: (s.get(step) or {}).get(key)
        raise KqlUnsupportedError("scan: only s<k>.column property access supported")
    if isinstance(e, UnaryOp):
        inner = compile_expr(e.operand, step_names)
        if e.op == "-":
            return lambda r, s, st: None if inner(r, s, st) is None else -inner(r, s, st)
        return lambda r, s, st: (
            None if inner(r, s, st) is None else not inner(r, s, st)
        )
    if isinstance(e, BinOp):
        if e.op in ("and", "or"):
            l = compile_expr(e.left, step_names)
            rr = compile_expr(e.right, step_names)
            if e.op == "and":
                return lambda r, s, st: (l(r, s, st) is True) and (rr(r, s, st) is True)
            return lambda r, s, st: (l(r, s, st) is True) or (rr(r, s, st) is True)
        if e.op in ("==", "!=", "<", "<=", ">", ">="):
            l = compile_expr(e.left, step_names)
            rr = compile_expr(e.right, step_names)
            f = _cmp(e.op)
            return lambda r, s, st: f(l(r, s, st), rr(r, s, st))
        if e.op in _ARITH:
            l = compile_expr(e.left, step_names)
            rr = compile_expr(e.right, step_names)
            f = _ARITH[e.op]
            return lambda r, s, st: f(l(r, s, st), rr(r, s, st))
        raise KqlUnsupportedError(f"scan: operator {e.op!r} not supported")
    if isinstance(e, InList):
        inner = compile_expr(e.expr, step_names)
        vals = []
        for item in e.items:
            if not isinstance(item, Lit):
                raise KqlUnsupportedError("scan: in() needs literal items")
            vals.append(item.value)
        neg = e.negated
        return lambda r, s, st: (
            None if inner(r, s, st) is None else (inner(r, s, st) in vals) != neg
        )
    if isinstance(e, Between):
        inner = compile_expr(e.expr, step_names)
        lo = compile_expr(e.lo, step_names)
        hi = compile_expr(e.hi, step_names)
        neg = e.negated
        def run(r, s, st):
            v, a, b = inner(r, s, st), lo(r, s, st), hi(r, s, st)
            if v is None or a is None or b is None:
                return None
            return (a <= v <= b) != neg
        return run
    if isinstance(e, FuncCall):
        fn = _FUNCS.get(e.name)
        if fn is None:
            raise KqlUnsupportedError(f"scan: function {e.name!r} not supported")
        args = [compile_expr(a, step_names) for a in e.args]
        return lambda r, s, st: fn(*[a(r, s, st) for a in args])
    raise KqlUnsupportedError(f"scan: expression {type(e).__name__} not supported")


class ScanCtx:
    """Compiled scan program shared by the batch, partitioned, and streaming
    execution paths."""

    def __init__(self, df: DataFrame, op: ScanOp):
        step_names = {s.name for s in op.steps}
        self.conds = [compile_expr(s.cond, step_names) for s in op.steps]
        self.assigns = [
            [(name, compile_expr(expr, step_names)) for name, expr in s.assigns]
            for s in op.steps
        ]
        self.dflt: dict[str, object] = {}
        for dname, _dtype, dexpr in op.declares:
            self.dflt[dname] = (
                compile_expr(dexpr, step_names)({}, {}, {})
                if dexpr is not None
                else None
            )
        out_fields = list(df.schema.fields)
        for dname, dtype, _ in op.declares:
            out_fields.append(
                T.StructField(dname, KQL_TO_SPARK[dtype.lower()], True)
            )
        if op.match_id:
            out_fields.append(T.StructField(op.match_id, T.LongType(), True))
        self.out_schema = T.StructType(out_fields)
        self.out_cols = [f.name for f in out_fields]
        self.in_cols = [f.name for f in df.schema.fields]
        self.n_steps = len(op.steps)
        self.names = [s.name for s in op.steps]
        self.match_col = op.match_id
        self.outputs = [getattr(s, "output", "all") or "all" for s in op.steps]
        bad = [o for o in self.outputs if o not in ("all", "last", "none")]
        if bad:
            raise KqlSemanticError(
                f"scan step output must be all|last|none, got {bad[0]!r}"
            )


class ScanMachine:
    """The concurrent-sequence state machine over one serialized row walk.
    State (slots + next match id) is plain data — picklable for the
    streaming state store."""

    def __init__(self, ctx: ScanCtx, slots=None, next_id: int = 0):
        self.ctx = ctx
        # slots[k] = active sequence at step k, or None.
        # A sequence = {"vars": {...}, "steps": {name: row}, "id": match_id}.
        self.slots: list = slots if slots is not None else [None] * ctx.n_steps
        self.next_id = next_id

    def _apply_step(self, seq: dict, k: int, row: dict) -> None:
        # `s<k>.x` sees the matched row overlaid with the declared-var
        # values as of BEFORE this step's assignments, so
        # `cumulative_x = x + s1.cumulative_x` reads the prior value.
        snap = dict(row)
        snap.update(seq["vars"])
        seq["steps"][self.ctx.names[k]] = snap
        for aname, aexpr in self.ctx.assigns[k]:
            seq["vars"][aname] = aexpr(row, seq["steps"], seq["vars"])

    def _row_out(self, seq: dict, row: dict) -> dict:
        ctx = self.ctx
        out = {c: row.get(c) for c in ctx.in_cols}
        out.update({k: seq["vars"].get(k) for k in ctx.dflt})
        if ctx.match_col:
            out[ctx.match_col] = seq["id"]
        return out

    def _emit(self, seq: dict, k: int, row: dict, emitted: list, flush: bool) -> None:
        """Emit the matched row per step k's output mode. `last` buffers it
        on the sequence and flushes when the sequence leaves the step
        (promotion) or the match completes; `none` suppresses it."""
        mode = self.ctx.outputs[k]
        if mode == "none":
            return
        out = self._row_out(seq, row)
        if mode == "all" or flush:
            emitted.append(out)
        else:  # last: keep only the most recent matched record for the step
            seq["pending"] = out

    def process(self, row: dict) -> list[dict]:
        """Advance the machine by one row; returns the rows emitted for it
        (possibly several: a flushed output=last buffer plus the row
        itself, or none at all)."""
        ctx, slots = self.ctx, self.slots
        conds, n_steps = ctx.conds, ctx.n_steps
        emitted: list = []
        for k in range(n_steps - 1, -1, -1):
            if k >= 1:
                prev = slots[k - 1]
                if prev is not None and conds[k](
                    row, prev["steps"], prev["vars"]
                ) is True:
                    slots[k - 1] = None
                    # leaving step k-1: flush its buffered output=last row
                    if prev.get("pending") is not None:
                        emitted.append(prev["pending"])
                        prev["pending"] = None
                    self._apply_step(prev, k, row)
                    # last step: match completes, sequence discarded
                    complete = k == n_steps - 1
                    slots[k] = None if complete else prev
                    self._emit(prev, k, row, emitted, flush=complete)
                    return emitted
                cur = slots[k]
                if cur is not None and conds[k](
                    row, cur["steps"], cur["vars"]
                ) is True:
                    self._apply_step(cur, k, row)
                    self._emit(cur, k, row, emitted, flush=False)
                    return emitted
            else:
                cur = slots[0]
                if cur is not None and conds[0](
                    row, cur["steps"], cur["vars"]
                ) is True:
                    self._apply_step(cur, 0, row)
                    self._emit(cur, 0, row, emitted, flush=False)
                    return emitted
                if conds[0](row, {}, dict(ctx.dflt)) is True:
                    # a restart discards any buffered row of the replaced
                    # sequence (its match never progressed)
                    seq = {
                        "vars": dict(ctx.dflt),
                        "steps": {},
                        "id": self.next_id,
                        "pending": None,
                    }
                    self.next_id += 1
                    self._apply_step(seq, 0, row)
                    slots[0] = seq
                    self._emit(seq, 0, row, emitted, flush=False)
                    return emitted
        return emitted

    def finalize(self) -> list[dict]:
        """End-of-input flush for output=last buffers of still-live
        sequences (batch walkers only; the streaming path keeps state for
        the next micro-batch instead)."""
        out = []
        for seq in self.slots:
            if seq is not None and seq.get("pending") is not None:
                out.append(seq["pending"])
                seq["pending"] = None
        return out


def _normalize_pdf(pdf):
    # Arrow->pandas turns nullable long/real cells into float64 NaN, which
    # `is None` checks (the interpreter's null model) never see — isnull()
    # would be false on nulls and NaN would leak through arithmetic.
    # Normalize every batch to object cells with None.
    return pdf.astype(object).where(pdf.notna(), None)


def _sort_pdf(pdf, order_keys: list[tuple[str, bool, str]]):
    """Sort a pandas batch by (column, asc, nulls) keys — the per-shard /
    per-micro-batch serialization for the partitioned and streaming paths.
    pandas supports one na_position for all keys; the first key's rule wins
    (documented delta — mixed per-key null placement is rare in practice)."""
    if not order_keys:
        return pdf
    return pdf.sort_values(
        by=[n for n, _, _ in order_keys],
        ascending=[asc for _, asc, _ in order_keys],
        na_position="first" if order_keys[0][2] == "first" else "last",
        kind="mergesort",  # stable: ties keep arrival order
    )


def run_scan(df: DataFrame, op: ScanOp, engine) -> DataFrame:
    ctx = ScanCtx(df, op)

    def runner(batches):
        import pandas as pd

        machine = ScanMachine(ctx)
        for pdf in batches:
            out_rows = []
            for row in _normalize_pdf(pdf).to_dict("records"):
                out_rows.extend(machine.process(row))
            yield pd.DataFrame(out_rows, columns=ctx.out_cols)
        tail = machine.finalize()
        if tail:
            yield pd.DataFrame(tail, columns=ctx.out_cols)

    # sequential by spec: single walker over the serialized order
    return df.coalesce(1).mapInPandas(runner, ctx.out_schema)


def run_scan_partitioned(
    df: DataFrame,
    op: ScanOp,
    key: str,
    order_keys: list[tuple[str, bool, str]],
    engine,
) -> DataFrame:
    """Sharded scan for `partition by key ( sort by ... | scan ... )`: one
    independent state machine per key, executed as a keyed applyInPandas —
    the scan parallelizes across keys instead of the global single walker.
    Match ids are per-key (each shard numbers its own sequences from 0).

    Scale: one hash shuffle on the key; each group sorts and walks locally.
    This is THE way to run sequence detection over 100 TB — per-entity
    funnels shard perfectly; only a truly global ordered scan needs the
    single-walker path."""
    ctx = ScanCtx(df, op)

    def func(pdf):
        import pandas as pd

        machine = ScanMachine(ctx)
        out_rows = []
        for row in _normalize_pdf(_sort_pdf(pdf, order_keys)).to_dict("records"):
            out_rows.extend(machine.process(row))
        out_rows.extend(machine.finalize())
        return pd.DataFrame(out_rows, columns=ctx.out_cols)

    return df.groupBy(key).applyInPandas(func, ctx.out_schema)


# pickled-state cap of a streaming scan (see run_scan_streaming)
_SCAN_MAX_STATE_BYTES = 16 << 20


def run_scan_streaming(
    df: DataFrame,
    op: ScanOp,
    engine,
    order_keys: list[tuple[str, bool, str]],
) -> DataFrame:
    """Streaming scan (SURVEY §2.11): applyInPandasWithState carries the
    machine's slots across micro-batches (pickled — sequences are plain
    data). Rows are processed in `sort by` order WITHIN each micro-batch
    (streams cannot be globally sorted; the per-batch ordering is the
    documented contract). Global scan = one state group.

    State-size contract: concurrent sequences are structurally capped at
    one per step (n_steps slots), each holding at most n_steps row
    snapshots — so state is O(n_steps^2 * row_width), FLAT in stream
    length. The one unbounded vector is a declared variable that
    accumulates per row (e.g. `acc = strcat(s1.acc, text)` in a
    never-completing sequence); a pickled-state byte cap
    (_SCAN_MAX_STATE_BYTES) aborts the query with a typed KqlLimitError
    instead of letting the state store grow without bound — mirroring
    Kusto's fail-loud query limits."""
    import pickle

    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .errors import KqlLimitError

    # read here on the driver: the UDF closure carries the value to the
    # Python workers
    max_state = _SCAN_MAX_STATE_BYTES
    ctx = ScanCtx(df, op)
    state_schema = T.StructType([T.StructField("blob", T.BinaryType(), True)])

    def func(key, pdf_iter, state):
        import pandas as pd

        if state.exists:
            slots, next_id = pickle.loads(bytes(state.get[0]))
        else:
            slots, next_id = None, 0
        machine = ScanMachine(ctx, slots, next_id)
        # the micro-batch arrives as MULTIPLE Arrow chunks (split at
        # maxRecordsPerBatch); sorting chunks independently would violate
        # the per-micro-batch `sort by` contract — concatenate first
        chunks = [pdf for pdf in pdf_iter]
        whole = (
            pd.concat(chunks, ignore_index=True)
            if len(chunks) > 1
            else (chunks[0] if chunks else pd.DataFrame(columns=ctx.in_cols))
        )
        out_rows = []
        for row in _normalize_pdf(_sort_pdf(whole, order_keys)).to_dict("records"):
            out_rows.extend(machine.process(row))
        yield pd.DataFrame(out_rows, columns=ctx.out_cols)
        # no finalize: output=last buffers stay in state for the next batch
        blob = pickle.dumps((machine.slots, machine.next_id))
        if len(blob) > max_state:
            raise KqlLimitError(
                f"streaming scan state ({len(blob)} bytes) exceeds the "
                f"{max_state}-byte cap; a declared variable is "
                "accumulating per-row data in a sequence that never "
                "completes"
            )
        state.update((blob,))

    # the grouping key must be a real column for the state operator
    return (
        df.withColumn("__kql_scan_g", F.lit(0))
        .groupBy("__kql_scan_g")
        .applyInPandasWithState(
            func,
            ctx.out_schema,
            state_schema,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )
