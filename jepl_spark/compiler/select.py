"""SELECT statement → DataFrame plan compiler.

Replaces the reference's clone-one-statement-per-group interpretation
(groupby.go:8-46, O(groups × docs) condition evals) with a single
conditional-aggregation plan — one shuffle, map-side partial aggregation,
whole-stage codegen, no Python on the hot path:

    groupBy(dims over the UNFILTERED frame)        ← group keys are
        .agg(agg(when(matched, arg)) ...)            enumerated pre-WHERE
        .select(post-aggregate fields)               (quirk §2.9.6)

With no GROUP BY (and no window) the plan pre-filters instead, so the
predicate reaches the scan via Catalyst pushdown, and aggregates the
same arguments unconditionally, since zero-match groups cannot arise.

A rule is compiled once: ``compile_select_parts`` compiles the WHERE
predicate, the dimensions, each aggregate's argument and the
post-aggregate fields a single time, and ``CompiledSelect.plan`` is the
one groupBy → agg → select assembly that the batch plan and
``streaming.windows.windowed_select`` share.

Aggregate semantics (eval.go:307-365, quirks §2.9.1-5):
- count(f)  = number of matched rows (field existence irrelevant)
- sum(e)    = sum over matched rows of numeric e; empty/none → 0.0
- avg(e)    = sum(e) / matched-row-count; 0 matched → 0.0
- max/min   = extremum of coalesce(e, 0.0) over matched rows; empty → 0.0
  (known divergence: a NaN-valued arg (only reachable via ÷0 etc.) is
  input-ORDER-dependent in the reference — NaN wins iff it is the first
  matched row, since later `thisret > result` comparisons are all false
  (eval.go:326-358); no deterministic distributed semantics can match
  an order-dependent interpreter, and Spark's max treats NaN as
  greatest.  The reference corpus never aggregates a NaN.)
- post-aggregate arithmetic over call results (float64 in the
  reference) compiles through ``ExprCompiler`` with each call bound to
  its drained value, so ÷0 follows the float path: ±Inf / NaN — except
  an int-LITERAL lhs, whose ÷float-0.0 yields 0.0 (eval.go:227-231; see
  oracle.py for why the other zero-guards are dead code)
"""

from __future__ import annotations

import re as _re
from typing import Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..lang import ast
from .expr import ExprCompiler, JeplCompileError
from .types import JType

# avg aggregates the sum; its drained value divides by the match count
_AGG_FNS = {"sum": F.sum, "avg": F.sum, "max": F.max, "min": F.min}


def _sanitize(name: str) -> str:
    return _re.sub(r"[^0-9A-Za-z_]", "_", name)


class CompiledSelect:
    """A SELECT compiled once, ready to be planned over a frame.

    ``matched`` is the WHERE predicate and ``dim_cols`` the named GROUP
    BY keys.  ``aggregates`` holds one ``(column name, aggregate
    function, compiled argument)`` per output aggregate: the
    matched-row count first, then one per non-count call.  ``fields``
    are the aliased post-aggregate output Columns, which read those
    columns.  The internal names (the aggregate columns and
    ``window_name``) avoid every dimension name."""

    def __init__(
        self,
        matched: Column,
        dim_cols: list[tuple[str, Column]],
        aggregates: list[tuple[str, Callable[[Column], Column], Column]],
        fields: list[Column],
        window_name: str,
    ) -> None:
        self.matched = matched
        self.dim_cols = dim_cols
        self.aggregates = aggregates
        self.fields = fields
        self.window_name = window_name

    def plan(self, df: DataFrame, window: Optional[Column] = None) -> DataFrame:
        """groupBy → agg → select over ``df``.  With dims or a ``window``
        the aggregates are conditioned on ``matched`` over the
        unfiltered frame, so groups are enumerated pre-WHERE.  Without
        either, the frame is filtered first (the predicate pushes down
        to the scan) and the aggregates run unconditionally; the global
        aggregate still yields exactly one all-zeros row when nothing
        matches, as the reference does.  A window adds leading
        ``window_start`` / ``window_end`` columns."""
        keys = [c.alias(n) for n, c in self.dim_cols]
        lead: list[Column] = []
        if window is not None:
            keys.insert(0, window.alias(self.window_name))
            lead = [F.col(f"{self.window_name}.{b}").alias(f"window_{b}")
                    for b in ("start", "end")]
        if not keys:
            df = df.filter(self.matched)
        aggs = [
            fn(F.when(self.matched, arg) if keys else arg).alias(name)
            for name, fn, arg in self.aggregates
        ]
        dims = [F.col(f"`{n}`") for n, _ in self.dim_cols]
        return df.groupBy(*keys).agg(*aggs).select(*lead, *dims, *self.fields)


def compile_select_parts(
    stmt: ast.SelectStatement, compiler: ExprCompiler
) -> CompiledSelect:
    if stmt.condition is None:
        # EvalSQL dereferences the condition before anything else
        # (eval.go:41 / groupby.go:36) and crashes on WHERE-less rules;
        # the repo oracle raises the same way — silently executing a
        # match-all here would be an untestable divergence (SURVEY §2.9.7)
        raise JeplCompileError(
            "WHERE is required: the reference crashes on WHERE-less "
            "rules (eval.go:41)"
        )
    calls: list[ast.Call] = []
    for f in stmt.fields:
        calls.extend(n for n in ast.walk(f.expr) if isinstance(n, ast.Call))
    if not calls:
        raise JeplCompileError(
            "raw queries (no aggregate call) are not executable; the "
            "reference interpreter crashes on them at drain (eval.go:22)"
        )
    for c in calls:
        if c.name != "count" and c.name not in _AGG_FNS:
            raise JeplCompileError(
                f"unsupported aggregate function {c.name}() — the reference "
                f"evaluates only count/sum/avg/max/min (eval.go:316-360)"
            )

    matched = compiler.compile_predicate(stmt.condition)

    used: set[str] = set()

    def fresh(name: str) -> str:
        while name in used:
            name += "_"
        used.add(name)
        return name

    # dimensions (group keys)
    dim_cols: list[tuple[str, Column]] = []
    for i, d in enumerate(stmt.dimensions):
        name = fresh(
            _sanitize(d.expr.val) if isinstance(d.expr, ast.VarRef) else f"dim_{i}"
        )
        dim_ce = compiler.compile(d.expr)
        if dim_ce.jtype in (JType.REGEX, JType.LIST, JType.NIL):
            # NIL included: a dimension missing from the schema would
            # silently form one NULL-keyed group here, while the
            # reference dereferences a nil Expr and panics
            # (groupby.go:18-34 via ast.go:930-932) and the repo oracle
            # raises — reject at compile so all three sides agree.
            raise JeplCompileError(
                f"GROUP BY dimension {d} is not a scalar expression "
                f"(the reference interpreter crashes on it, groupby.go:18-34)"
            )
        dim_col = dim_ce.col
        if dim_ce.nullable:
            # a dimension that is null on SOME row: the reference
            # panics at runtime (nil Expr String deref) and the repo
            # oracle raises ValueError — a silent NULL-keyed group
            # would make the three sides disagree, so fail the job the
            # way the reference does
            dim_col = F.when(
                dim_col.isNull(),
                F.raise_error(F.lit(
                    f"GROUP BY dimension {d} is null/missing on an input "
                    f"row — the reference interpreter panics here "
                    f"(groupby.go:18-34)"
                )),
            ).otherwise(dim_col)
        dim_cols.append((name, dim_col))
    count_name = fresh("__match_count")
    window_name = fresh("__window")

    # aggregate arguments, and each call's drained value: float64,
    # never null (an empty aggregate drains to 0.0)
    zero = F.lit(0.0)
    count = F.col(count_name)
    matches = count.cast("double")
    aggregates = [(count_name, F.count, F.lit(1))]
    drained: dict[int, Column] = {}
    for i, c in enumerate(calls):
        if c.name == "count":
            drained[id(c)] = matches
            continue
        name = fresh(f"__agg_{i}")
        arg = compiler.compile_numeric(c.args[0])
        if c.name in ("max", "min"):
            arg = F.coalesce(arg, zero)
        aggregates.append((name, _AGG_FNS[c.name], arg))
        value = F.coalesce(F.col(name), zero)
        if c.name == "avg":
            value = F.when(count == 0, zero).otherwise(value / count)
        drained[id(c)] = value

    # post-aggregate fields: the aggregated row holds no raw fields,
    # only the drained calls
    post = ExprCompiler(StructType([]), calls=drained)
    fields: list[Column] = []
    for f, alias in zip(stmt.fields, stmt.column_names()):
        ce = post.compile(f.expr)
        if ce.jtype not in (JType.FLOAT, JType.INT):
            raise JeplCompileError(f"SELECT field {f.expr} is not a number")
        fields.append(ce.col.alias(alias))
    return CompiledSelect(matched, dim_cols, aggregates, fields, window_name)


def compile_select(
    stmt: ast.SelectStatement, df: DataFrame, non_null=frozenset(),
    nan_cols=frozenset(),
) -> DataFrame:
    """Batch plan (see ``CompiledSelect.plan``).

    ``non_null``: caller-declared never-null columns (see ExprCompiler)
    — lets OR-predicates compile guard-free and push into the scan.
    ``nan_cols``: caller-declared may-hold-stored-NaN float columns —
    buys IEEE comparison parity for parquet NaN data (see ExprCompiler)."""
    compiler = ExprCompiler(df.schema, non_null=non_null, nan_cols=nan_cols)
    return compile_select_parts(stmt, compiler).plan(df)
