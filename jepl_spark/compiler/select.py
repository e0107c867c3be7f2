"""SELECT statement → DataFrame plan compiler.

Replaces the reference's clone-one-statement-per-group interpretation
(groupby.go:8-46, O(groups × docs) condition evals) with a single
conditional-aggregation plan — one shuffle, map-side partial aggregation,
whole-stage codegen, no Python on the hot path:

    groupBy(dims over the UNFILTERED frame)        ← group keys are
        .agg(agg(when(matched, arg)) ...)            enumerated pre-WHERE
                                                     (quirk §2.9.6)

With no GROUP BY the plan pre-filters instead (predicate reaches the
scan via Catalyst pushdown) since zero-match groups cannot arise.

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
  reference), so ÷0 follows the float path: ±Inf / NaN — except an
  int-LITERAL lhs, whose ÷float-0.0 yields 0.0 (eval.go:227-231; see
  oracle.py for why the other zero-guards are dead code)
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..lang import ast
from ..lang.tokens import Tok
from ..oracle import eval_expr as _oracle_eval
from .expr import ExprCompiler, JeplCompileError

_SUPPORTED_AGGS = {"count", "sum", "avg", "max", "min"}


def _sanitize(name: str) -> str:
    return _re.sub(r"[^0-9A-Za-z_]", "_", name)


class CompiledSelect:
    """Carrier for the pieces of a compiled SELECT, so the streaming
    layer can re-assemble them around windows/watermarks."""

    def __init__(
        self,
        stmt: ast.SelectStatement,
        matched: Column,
        dim_cols: list[tuple[str, Column]],
        agg_exprs: list[Column],
        post_select: "PostSelect",
    ) -> None:
        self.stmt = stmt
        self.matched = matched
        self.dim_cols = dim_cols
        self.agg_exprs = agg_exprs
        self.post_select = post_select


class PostSelect:
    """Builds the final projection from aggregated intermediate columns."""

    def __init__(
        self,
        call_columns: dict[int, str],
        fields: list[ast.Field],
        names: list[str],
    ) -> None:
        self.call_columns = call_columns  # id(Call) → intermediate col name
        self.fields = fields
        self.names = names

    def columns(self, group_names: list[str]) -> list[Column]:
        out = [F.col(f"`{g}`") for g in group_names]
        for f, name in zip(self.fields, self.names):
            out.append(self._field_expr(f.expr).alias(name))
        return out

    def _call_value(self, call: ast.Call) -> Column:
        base = self.call_columns[id(call)]
        if call.name == "count":
            return F.col("__match_count").cast("double")
        if call.name == "avg":
            cnt = F.col("__match_count")
            return (
                F.when(cnt == 0, F.lit(0.0))
                .otherwise(F.coalesce(F.col(base), F.lit(0.0)) / cnt)
            )
        return F.coalesce(F.col(base), F.lit(0.0))

    def _field_expr(self, expr: ast.Expr) -> Column:
        col, _ = self._field_expr_typed(expr)
        return col

    def _field_expr_typed(self, expr: ast.Expr) -> tuple[Column, bool]:
        """Post-aggregate arithmetic.  Returns (column, is_go_int64).
        Operands are drained call values (float64, never null) and
        literals.  Pure-literal subtrees fold through the oracle so Go
        int64 arithmetic (truncating division, int÷int-0 panic) is
        exact; where a call is involved the value is float64 and ÷0
        follows Go float division (±Inf/NaN) — unless the lhs is an
        int64 literal, the one path where the reference's zero-guard
        fires and yields 0.0 (eval.go:227-231)."""
        if not any(isinstance(n, ast.Call) for n in ast.walk(expr)):
            try:
                v = _oracle_eval(expr, None)
            except ZeroDivisionError as e:
                raise JeplCompileError(str(e)) from None
            if not isinstance(v, (int, float)) or isinstance(v, bool):
                raise JeplCompileError(
                    f"raw (non-aggregate) field {expr} is not executable"
                )
            return F.lit(float(v)), isinstance(v, int)
        if isinstance(expr, ast.Call):
            return self._call_value(expr), False
        if isinstance(expr, ast.ParenExpr):
            return self._field_expr_typed(expr.expr)
        if isinstance(expr, ast.BinaryExpr):
            lc, lint = self._field_expr_typed(expr.lhs)
            rc, _ = self._field_expr_typed(expr.rhs)
            if expr.op is Tok.ADD:
                return lc + rc, False
            if expr.op is Tok.SUB:
                return lc - rc, False
            if expr.op is Tok.MUL:
                return lc * rc, False
            if expr.op is Tok.DIV:
                if lint:  # int64 literal ÷ float64 → live 0.0 guard
                    zero_case = F.lit(0.0)
                else:  # float64 ÷ 0 → Go float division, signs included
                    from .expr import _float_div_zero_case

                    zero_case = _float_div_zero_case(lc, rc)
                return F.when(rc == 0.0, zero_case).otherwise(lc / rc), False
            raise JeplCompileError(f"operator {expr.op} invalid in SELECT field")
        raise JeplCompileError(
            f"raw (non-aggregate) field {expr} is not executable"
        )


def compile_select_parts(
    stmt: ast.SelectStatement, compiler: ExprCompiler
) -> CompiledSelect:
    calls: list[ast.Call] = []
    for f in stmt.fields:
        calls.extend(n for n in ast.walk(f.expr) if isinstance(n, ast.Call))
    if not calls:
        raise JeplCompileError(
            "raw queries (no aggregate call) are not executable; the "
            "reference interpreter crashes on them at drain (eval.go:22)"
        )
    for c in calls:
        if c.name not in _SUPPORTED_AGGS:
            raise JeplCompileError(
                f"unsupported aggregate function {c.name}() — the reference "
                f"evaluates only count/sum/avg/max/min (eval.go:316-360)"
            )

    matched = compiler.compile_predicate(stmt.condition)

    # dimensions (group keys)
    dim_cols: list[tuple[str, Column]] = []
    used: set[str] = set()
    for i, d in enumerate(stmt.dimensions):
        if isinstance(d.expr, ast.VarRef):
            name = _sanitize(d.expr.val)
        else:
            name = f"dim_{i}"
        while name in used:
            name += "_"
        used.add(name)
        dim_ce = compiler.compile(d.expr)
        from .types import JType as _JT

        if dim_ce.jtype in (_JT.REGEX, _JT.LIST, _JT.NIL):
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

    # aggregate expressions
    agg_exprs: list[Column] = [
        F.count(F.when(matched, F.lit(1))).alias("__match_count")
    ]
    call_columns: dict[int, str] = {}
    for i, c in enumerate(calls):
        colname = f"__agg_{i}"
        call_columns[id(c)] = colname
        if c.name == "count":
            continue  # uses __match_count
        arg = compiler.compile_numeric(c.args[0])
        if c.name in ("sum", "avg"):
            agg_exprs.append(F.sum(F.when(matched, arg)).alias(colname))
        elif c.name == "max":
            agg_exprs.append(
                F.max(F.when(matched, F.coalesce(arg, F.lit(0.0)))).alias(colname)
            )
        elif c.name == "min":
            agg_exprs.append(
                F.min(F.when(matched, F.coalesce(arg, F.lit(0.0)))).alias(colname)
            )

    post = PostSelect(call_columns, stmt.fields, stmt.column_names())
    return CompiledSelect(stmt, matched, dim_cols, agg_exprs, post)


def compile_select(
    stmt: ast.SelectStatement, df: DataFrame, non_null=frozenset(),
    nan_cols=frozenset(),
) -> DataFrame:
    """Batch plan.  With dims: conditional aggregation over the
    unfiltered frame (group enumeration pre-WHERE).  Without dims:
    pre-filter so the predicate pushes down to the scan, then a single
    global aggregate (which still yields exactly one all-zeros row when
    nothing matches, as the reference does).

    ``non_null``: caller-declared never-null columns (see ExprCompiler)
    — lets OR-predicates compile guard-free and push into the scan.
    ``nan_cols``: caller-declared may-hold-stored-NaN float columns —
    buys IEEE comparison parity for parquet NaN data (see ExprCompiler)."""
    _require_where(stmt)
    compiler = ExprCompiler(df.schema, non_null=non_null, nan_cols=nan_cols)
    parts = compile_select_parts(stmt, compiler)

    if parts.dim_cols:
        grouped = df.groupBy(
            *[c.alias(n) for n, c in parts.dim_cols]
        ).agg(*parts.agg_exprs)
        group_names = [n for n, _ in parts.dim_cols]
        return grouped.select(*parts.post_select.columns(group_names))

    # no dims → prefilter (predicate pushdown) + global aggregate
    filtered = df.filter(parts.matched)
    # re-compile aggregates with matched ≡ true over the filtered frame
    true_parts = compile_select_parts(
        _with_condition_true(stmt),
        ExprCompiler(df.schema, non_null=non_null, nan_cols=nan_cols),
    )
    agged = filtered.agg(*true_parts.agg_exprs)
    return agged.select(*true_parts.post_select.columns([]))


def _require_where(stmt: ast.SelectStatement) -> None:
    """WHERE is effectively mandatory: EvalSQL dereferences the
    condition before anything else (eval.go:41 / groupby.go:36) and
    crashes on WHERE-less rules; the repo oracle raises the same way —
    silently executing a match-all here would be an untestable
    divergence (SURVEY §2.9.7)."""
    if stmt.condition is None:
        raise JeplCompileError(
            "WHERE is required: the reference crashes on WHERE-less "
            "rules (eval.go:41)"
        )


def _with_condition_true(stmt: ast.SelectStatement) -> ast.SelectStatement:
    import copy

    clone = copy.copy(stmt)
    clone.condition = None
    return clone
