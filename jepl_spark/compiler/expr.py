"""JEPL expression → PySpark Column compiler.

Reproduces the reference interpreter's typed dispatch (eval.go:134-297)
*statically*: under a fixed Spark schema the reference's per-row type
switch collapses into compile-time case analysis, and the remaining
runtime variability (a field missing on some rows ≡ SQL NULL) is handled
with null-guard expressions so that Catalyst sees plain, optimizable
column expressions — no UDFs anywhere on this path.

Quirk rules carried over (SURVEY.md §2.9):
- division by zero follows the reference's ACTUAL typed dispatch (its
  ``rhs == 0`` guard compares interface{} to an untyped-int 0 and is
  dead code except on one path — see oracle.py): float lhs ÷ 0 → Go
  float division (±Inf / NaN); int-literal lhs ÷ float 0.0 → 0.0
  (eval.go:227-231, the live guard); int ÷ int 0 → reference panics,
  we raise at fold time
- type-mismatched comparisons → false, not error (ok&& pattern)
- ``bool AND/OR nil`` → false, while ``nil AND/OR x`` → nil
  (eval.go:139-151: the lhs switch sees nil first)
- IN/NI are type-strict: float values match only float list elements
  (reflect.DeepEqual, eval.go:367-382)
- constant subtrees are folded through the oracle interpreter, so Go
  int64 arithmetic (truncating division, ``4 AND 5`` → nil, …) is
  preserved exactly

Known, documented divergence: values extracted from raw-JSON string
columns via ``get_json_object`` lose their JSON type.  Consequences,
all of the same root cause and all outside the reference's own corpus:
a JSON string ``"5"`` used in numeric context compares equal to 5.0
where the reference answers false; regex operators run against the
extracted text of non-string values (JSON number 5 → ``"5" rlike p``)
where the reference yields nil; and numeric-LOOKING string pairs
compare numerically under JSONANY=JSONANY equality.  Fixture corpora
keep JSON value types consistent with usage, as the reference's own
corpus does.
"""

from __future__ import annotations

import math as _math
import operator as _operator
import re as _re
from typing import Optional

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..lang import ast
from ..lang.tokens import Tok
from ..oracle import eval_expr as _oracle_eval
from .types import JType, resolve_var_ref


class JeplCompileError(Exception):
    pass


class CExpr:
    """A compiled expression: Column + static JEPL type + payload for
    operand-only node kinds (list values / regex pattern).  A FLOAT or
    INT value's Column is always DoubleType.

    ``maybe_nan`` marks float values that can be IEEE NaN at runtime.
    JSON cannot encode NaN, so JSON-origin field values never are — NaN
    enters through arithmetic (0/0, Inf−Inf, overflow×0) or through a
    parquet double column that holds stored NaN, which the caller must
    DECLARE via ``nan_cols`` (see ExprCompiler).  Comparisons involving
    a maybe_nan operand need explicit guards because Spark orders NaN
    greatest and equates NaN=NaN, while Go comparisons are IEEE (all
    false, ``!=`` true)."""

    __slots__ = ("col", "jtype", "nullable", "payload", "maybe_nan")

    def __init__(self, col, jtype: JType, nullable: bool = True, payload=None,
                 maybe_nan: bool = False):
        self.col = col
        self.jtype = jtype
        self.nullable = nullable
        self.payload = payload
        self.maybe_nan = maybe_nan


_NIL = lambda: CExpr(F.lit(None), JType.NIL, nullable=True)  # noqa: E731


def _float_div_zero_case(lc: Column, rc: Column) -> Column:
    """Go float division by a zero divisor: ±Inf by the SIGNS of both
    operands, NaN for 0/±0 or NaN/±0.  Two Spark pitfalls handled:
    isnan comes FIRST (Spark orders NaN greatest, so `NaN > 0` is
    true), and the divisor's sign bit matters (x / -0.0 → -Inf for
    x > 0) — ±0.0 compare equal, so the sign is read from the JVM
    string rendering ('-0.0'), evaluated only on zero-divisor rows."""
    neg_divisor = rc.cast("string").startswith("-")
    base = (
        F.when(lc > 0.0, F.lit(float("inf")))
        .when(lc < 0.0, F.lit(float("-inf")))
    )
    return (
        F.when(F.isnan(lc) | (lc == 0.0), F.lit(float("nan")))
        .otherwise(F.when(neg_divisor, -base).otherwise(base))
    )

_CMP = {
    Tok.EQ: _operator.eq, Tok.NEQ: _operator.ne, Tok.LT: _operator.lt,
    Tok.LTE: _operator.le, Tok.GT: _operator.gt, Tok.GTE: _operator.ge,
}
_ARITH = {Tok.ADD: _operator.add, Tok.SUB: _operator.sub, Tok.MUL: _operator.mul}
_CMP_OPS = set(_CMP)
_ARITH_OPS = {*_ARITH, Tok.DIV}
_BOOLISH_OPS = {Tok.AND, Tok.OR, Tok.EQ, Tok.NEQ}


def _has_refs_or_calls(expr: ast.Expr) -> bool:
    return any(isinstance(n, (ast.VarRef, ast.Call)) for n in ast.walk(expr))


_BOOL_PRODUCING = _CMP_OPS | {Tok.AND, Tok.OR, Tok.IN, Tok.NI, Tok.EQREGEX, Tok.NEQREGEX}


def _has_boolish(expr: ast.Expr) -> bool:
    """True if the subtree can produce a boolean value (a nested
    comparison/logical op or a boolean literal)."""
    return any(
        (isinstance(n, ast.BinaryExpr) and n.op in _BOOL_PRODUCING)
        or isinstance(n, ast.BooleanLiteral)
        for n in ast.walk(expr)
    )


def _relax_safe(expr: ast.Expr) -> bool:
    """Guard-free (Kleene) compilation is observationally equivalent to
    the reference at the filter root ONLY for an AND-combination of
    simple leaves — comparisons/IN/regex whose operands contain no
    boolean subresults.  OR is excluded (``true OR nil`` → false in the
    reference) and so are boolean-valued comparison operands
    (``(a != b) = false``: reference collapses the nil rhs to false,
    Kleene propagates NULL)."""
    e = expr
    while isinstance(e, ast.ParenExpr):
        e = e.expr
    if isinstance(e, ast.BinaryExpr):
        if e.op is Tok.AND:
            return _relax_safe(e.lhs) and _relax_safe(e.rhs)
        if e.op in _CMP_OPS or e.op in (Tok.IN, Tok.NI, Tok.EQREGEX, Tok.NEQREGEX):
            return not _has_boolish(e.lhs) and not _has_boolish(e.rhs)
        return False
    return False  # bare refs/literals as conditions take the exact path


def _lit_cexpr(value) -> CExpr:
    if value is None:
        return _NIL()
    if isinstance(value, bool):
        return CExpr(F.lit(value), JType.BOOL, nullable=False)
    if isinstance(value, int):
        return CExpr(F.lit(float(value)), JType.INT, nullable=False)
    if isinstance(value, float):
        return CExpr(F.lit(value), JType.FLOAT, nullable=False,
                     maybe_nan=_math.isnan(value))
    if isinstance(value, str):
        return CExpr(F.lit(value), JType.STRING, nullable=False)
    if isinstance(value, list):
        return CExpr(F.lit(None), JType.LIST, nullable=False, payload=value)
    if isinstance(value, _re.Pattern):
        return CExpr(F.lit(None), JType.REGEX, nullable=False, payload=value.pattern)
    raise JeplCompileError(f"unfoldable constant {value!r}")


class ExprCompiler:
    """Compiles condition / aggregate-arg expressions against a schema.

    ``non_null``: dotted column names the caller declares never-null.
    Spark relaxes every parquet read schema to nullable, so without a
    hint each comparison keeps its nil-guard CASE wrapper and OR-trees
    cannot reach the scan as pushed filters; declaring the (typically
    required) key columns turns `a = 1 OR b = 'x'` into a bare
    Or(...) parquet filter.  Declaring a column that does hold nulls
    voids the reference-parity warranty for rows where it is null.

    ``nan_cols``: dotted FLOAT column names the caller declares as
    possibly holding a stored IEEE NaN.  The engine's default data
    contract is NaN-free floats (the reference ingests JSON, which
    cannot encode NaN), so plain column comparisons compile guard-free
    and push into the scan; parquet, however, CAN store NaN in a double
    column, and an undeclared stored NaN would silently hit Spark's
    NaN-greatest / NaN=NaN semantics instead of the reference's IEEE
    all-false.  Declaring the column buys reference parity at the cost
    of a per-comparison NaN guard (which blocks pushdown on that
    column's predicates only).

    ``calls``: drained aggregate values by ``id`` of their ``ast.Call``
    node (float64, never null).  Post-aggregate SELECT fields compile
    with them bound; elsewhere an aggregate call is an error."""

    def __init__(self, schema: StructType, non_null=frozenset(),
                 nan_cols=frozenset(), calls=None) -> None:
        self.schema = schema
        self.non_null = frozenset(non_null)
        self.nan_cols = frozenset(nan_cols)
        self.calls = calls or {}
        # Relaxed mode (set only while compiling an OR-free predicate):
        # the reference's false-vs-nil distinction is observable *only*
        # through an enclosing OR (eval.go:146: `bool OR nil` → false
        # even when lhs is true).  Without OR, a row is matched iff every
        # conjunct is TRUE under plain Kleene logic too, so guards can be
        # dropped — producing bare `col op lit` conjuncts that Catalyst
        # pushes into the parquet scan.
        self._relaxed = False

    # -- public ----------------------------------------------------------

    def compile(self, expr: ast.Expr) -> CExpr:
        if not _has_refs_or_calls(expr):
            # constant subtree → fold with exact reference semantics
            try:
                return _lit_cexpr(_oracle_eval(expr, None))
            except ZeroDivisionError as e:
                # int ÷ int 0: the reference panics at eval time
                # (eval.go:267-273); we surface it at compile time
                raise JeplCompileError(str(e)) from None
        if isinstance(expr, ast.VarRef):
            ref = resolve_var_ref(self.schema, expr.segments)
            nullable = ref.nullable and expr.val not in self.non_null
            if ref.jtype is JType.NIL:
                nullable = True  # statically-missing is nil on every row
            return CExpr(
                ref.col, ref.jtype, nullable=nullable,
                maybe_nan=(ref.jtype is JType.FLOAT and expr.val in self.nan_cols),
            )
        if isinstance(expr, ast.ParenExpr):
            return self.compile(expr.expr)
        if isinstance(expr, ast.BinaryExpr):
            return self._compile_binary(expr)
        if isinstance(expr, ast.Call):
            if id(expr) not in self.calls:
                raise JeplCompileError(
                    f"aggregate call {expr} not allowed in this context"
                )
            return CExpr(self.calls[id(expr)], JType.FLOAT, nullable=False)
        # bare literal containing no refs is handled by the fold above
        return _lit_cexpr(_oracle_eval(expr, None))

    def compile_predicate(self, expr: Optional[ast.Expr]) -> Column:
        """Compile a WHERE condition to a boolean 'matched' column.

        A row matches iff the result is boolean true (eval.go:48-56).
        NULL ≡ no-match here, and both ``DataFrame.filter`` and ``when()``
        treat NULL as false, so no root coalesce is emitted — keeping the
        predicate in a shape Catalyst can push into the parquet scan."""
        if expr is None:
            return F.lit(True)
        self._relaxed = _relax_safe(expr)
        try:
            ce = self.compile(expr)
        finally:
            self._relaxed = False
        if ce.jtype is JType.BOOL:
            return ce.col
        if ce.jtype is JType.JSONANY:
            return self._json_as_bool(ce.col)
        return F.lit(False)  # non-boolean condition → no row matches

    def compile_numeric(self, expr: ast.Expr) -> Column:
        """Compile an aggregate argument to a nullable double column:
        NULL ⇔ the reference would skip accumulation for the row
        (missing field / non-numeric value, eval.go:318-325)."""
        ce = self.compile(expr)
        return self._as_double(ce)

    # -- coercions ---------------------------------------------------------

    @staticmethod
    def _as_double(ce: CExpr) -> Column:
        if ce.jtype in (JType.FLOAT, JType.INT):
            return ce.col
        if ce.jtype is JType.JSONANY:
            return ce.col.try_cast("double")
        return F.lit(None).cast("double")

    @staticmethod
    def _json_as_bool(col: Column) -> Column:
        return (
            F.when(col == F.lit("true"), F.lit(True))
            .when(col == F.lit("false"), F.lit(False))
            .otherwise(F.lit(None))
        )

    # -- binary dispatch -------------------------------------------------

    def _compile_binary(self, expr: ast.BinaryExpr) -> CExpr:
        op = expr.op
        lhs = self.compile(expr.lhs)

        if op in (Tok.IN, Tok.NI):
            if not isinstance(expr.rhs, ast.ListLiteral):
                return _NIL()
            return self._compile_in(lhs, expr.rhs.vals, negate=op is Tok.NI)
        if op in (Tok.EQREGEX, Tok.NEQREGEX):
            if not isinstance(expr.rhs, ast.RegexLiteral):
                return _NIL()
            return self._compile_regex(lhs, expr.rhs.pattern, negate=op is Tok.NEQREGEX)

        rhs = self.compile(expr.rhs)

        lt = lhs.jtype
        if lt is JType.NIL:
            return _NIL()
        if lt is JType.BOOL:
            return self._bool_lhs(op, lhs, rhs)
        if lt in (JType.FLOAT, JType.INT):
            return self._numeric_lhs(op, lhs, rhs)
        if lt is JType.STRING:
            return self._string_lhs(op, lhs, rhs)
        if lt is JType.JSONANY:
            return self._jsonany_lhs(op, lhs, rhs)
        return _NIL()  # LIST/REGEX lhs → nil in the reference too

    # guarded combine: nil lhs → nil ; non-conforming rhs → false ;
    # else op(lhs, rhs)   (the `ok && (...)` pattern of eval.go).
    # When the rhs cannot be null (a literal), plain `lhs op rhs` has
    # exactly these semantics under Spark's 3-valued logic (NULL ⇔ nil),
    # and stays pushdown-friendly — no CASE WHEN wrapper.  The result's
    # own nullability is propagated so enclosing AND/OR over
    # schema-non-nullable columns compile guard-free too (OR-trees then
    # reach the scan as plain Or(...) pushed filters).
    def _guarded(self, lhs: CExpr, rhs: CExpr, rhs_col: Column, result: Column) -> CExpr:
        # A JSONANY rhs can be NULL at runtime even when its COLUMN is
        # declared never-null: the coercion (try_cast / _json_as_bool)
        # introduces NULLs for type-mismatched values, and the
        # reference answers false there, not nil — so JSONANY always
        # keeps the rhs guard outside relaxed mode (in relaxed AND
        # trees NULL ≡ false at the filter root, so dropping it is
        # observationally safe).
        rhs_maybe_null = rhs.nullable or rhs.jtype is JType.JSONANY
        if self._relaxed or not rhs_maybe_null:
            return CExpr(
                result, JType.BOOL, nullable=lhs.nullable or rhs_maybe_null
            )
        col = F.when(rhs_col.isNull(), F.lit(False)).otherwise(result)
        if lhs.nullable:
            col = F.when(lhs.col.isNull(), F.lit(None)).otherwise(col)
        return CExpr(col, JType.BOOL, nullable=lhs.nullable)

    def _bool_lhs(self, op: Tok, lhs: CExpr, rhs: CExpr) -> CExpr:
        if op not in _BOOLISH_OPS:
            return _NIL()
        if rhs.jtype is JType.BOOL:
            rc = rhs.col
        elif rhs.jtype is JType.JSONANY:
            rc = self._json_as_bool(rhs.col)
        else:
            # rhs statically non-bool → ok==false → false (nil lhs → nil)
            col = F.lit(False)
            if lhs.nullable:
                col = F.when(lhs.col.isNull(), F.lit(None)).otherwise(col)
            return CExpr(col, JType.BOOL, nullable=lhs.nullable)
        if op in (Tok.AND, Tok.OR):
            # ref: lhs nil → nil  |  rhs nil → false  |  else lhs ∧/∨ rhs.
            # Spark's 3VL differs here (NULL AND false = false, true OR
            # NULL = true), so AND/OR carry explicit guards — EXCEPT when
            # neither side can be null (schema-non-nullable operands):
            # then reference and Kleene agree and the plain &/| form
            # stays pushable.
            res = (lhs.col & rc) if op is Tok.AND else (lhs.col | rc)
            if self._relaxed:  # OR-free tree: Kleene AND is root-equivalent
                return CExpr(res, JType.BOOL,
                             nullable=lhs.nullable or rhs.nullable)
            rhs_maybe_null = rhs.nullable or rhs.jtype is JType.JSONANY
            if not lhs.nullable and not rhs_maybe_null:
                return CExpr(res, JType.BOOL, nullable=False)
            col = (
                F.when(rc.isNull(), F.lit(False)).otherwise(res)
                if rhs_maybe_null
                else res
            )
            if lhs.nullable:
                col = F.when(lhs.col.isNull(), F.lit(None)).otherwise(col)
            return CExpr(col, JType.BOOL, nullable=lhs.nullable)
        return self._guarded(lhs, rhs, rc, _CMP[op](lhs.col, rc))

    def _numeric_lhs(self, op: Tok, lhs: CExpr, rhs: CExpr) -> CExpr:
        lc = lhs.col
        if rhs.jtype in (JType.FLOAT, JType.INT):
            rc = rhs.col
        elif rhs.jtype is JType.JSONANY:
            rc = rhs.col.try_cast("double")
        else:
            rc = None  # statically non-numeric rhs

        if op in _CMP_OPS:
            if rc is None:
                col = F.lit(False)
                if lhs.nullable:
                    col = F.when(lhs.col.isNull(), F.lit(None)).otherwise(col)
                return CExpr(col, JType.BOOL, nullable=lhs.nullable)
            res = _CMP[op](lc, rc)
            if lhs.maybe_nan or rhs.maybe_nan:
                # Go float comparisons are IEEE: NaN op x → false,
                # NaN != x → true.  Spark instead orders NaN greatest
                # and equates NaN=NaN, so guard explicitly.  The guard
                # fires ONLY when both operands are non-null: a nil
                # operand must keep flowing to the nil guards below
                # (isnan(NULL) is false, so a bare isnan-OR would turn
                # `nil > NaN` into a definite false where the
                # reference yields nil).
                res = F.when(
                    lc.isNotNull()
                    & rc.isNotNull()
                    & (F.isnan(lc) | F.isnan(rc)),
                    F.lit(op is Tok.NEQ),
                ).otherwise(res)
            return self._guarded(lhs, rhs, rc, res)

        if op in _ARITH_OPS:
            if rc is None:
                return _NIL()  # `ok==false → nil` for arithmetic
            # arithmetic can surface NaN (0/0, Inf−Inf, overflow×0) —
            # JSON field values themselves never are (no NaN in JSON)
            arith_null = lhs.nullable or rhs.nullable
            if op is not Tok.DIV:
                return CExpr(_ARITH[op](lc, rc), JType.FLOAT,
                             nullable=arith_null, maybe_nan=True)
            # DIV — reference typed dispatch (see module docstring):
            # int-literal lhs ÷ 0.0 → 0.0 (eval.go:227-231, the one live
            # guard); float lhs ÷ 0 → Go float division: ±Inf with BOTH
            # operands' signs, NaN for 0/0 (eval.go:192-200 — guard
            # dead).  Nil operands stay nil.
            if lhs.jtype is JType.INT:
                zero_case = F.lit(0.0)
            else:
                zero_case = _float_div_zero_case(lc, rc)
            if arith_null:
                col = (
                    F.when(lc.isNull() | rc.isNull(), F.lit(None))
                    .when(rc == 0.0, zero_case)
                    .otherwise(lc / rc)
                )
            else:
                col = F.when(rc == 0.0, zero_case).otherwise(lc / rc)
            return CExpr(col, JType.FLOAT, nullable=arith_null, maybe_nan=True)

        return _NIL()  # AND/OR over numbers → nil (`4 AND 5`)

    def _string_lhs(self, op: Tok, lhs: CExpr, rhs: CExpr) -> CExpr:
        if op in (Tok.EQ, Tok.NEQ):
            if rhs.jtype in (JType.STRING, JType.JSONANY):
                res = _CMP[op](lhs.col, rhs.col)
                return self._guarded(lhs, rhs, rhs.col, res)
            col = F.lit(False)
            if lhs.nullable:
                col = F.when(lhs.col.isNull(), F.lit(None)).otherwise(col)
            return CExpr(col, JType.BOOL, nullable=lhs.nullable)
        return _NIL()  # relational/arith/AND/OR on strings → nil

    def _json_num(self, lhs: CExpr) -> CExpr:
        """Numeric view of a JSON-extracted value.  maybe_nan is set:
        try_cast('NaN') yields a real runtime NaN (from the JSON
        STRING "NaN" — JSON numbers cannot encode NaN), which must hit
        the NaN comparison guards, not Spark's NaN-greatest ordering."""
        return CExpr(lhs.col.try_cast("double"), JType.FLOAT, maybe_nan=True)

    def _jsonany_lhs(self, op: Tok, lhs: CExpr, rhs: CExpr) -> CExpr:
        """Coerce a JSON-extracted lhs by the rhs's static type."""
        if rhs.jtype in (JType.FLOAT, JType.INT):
            return self._numeric_lhs(op, self._json_num(lhs), rhs)
        if rhs.jtype is JType.JSONANY:
            # two JSON-extracted values: equality compares numerically
            # when BOTH parse as numbers (the reference sees float64 on
            # both sides, so JSON 5 = 5.0 — text equality would say
            # false) and as text otherwise; relational ops compare
            # numerically (non-numeric → null → no match)
            if op in (Tok.EQ, Tok.NEQ):
                ld = lhs.col.try_cast("double")
                rd = rhs.col.try_cast("double")
                both_num = ld.isNotNull() & rd.isNotNull()
                cmp = _CMP[op]
                res = F.when(both_num, cmp(ld, rd)).otherwise(cmp(lhs.col, rhs.col))
                return self._guarded(lhs, rhs, rhs.col, res)
            return self._numeric_lhs(op, self._json_num(lhs), rhs)
        if rhs.jtype is JType.STRING:
            return self._string_lhs(op, CExpr(lhs.col, JType.STRING), rhs)
        if rhs.jtype is JType.BOOL:
            return self._bool_lhs(op, CExpr(self._json_as_bool(lhs.col), JType.BOOL), rhs)
        if op in _ARITH_OPS or op in _CMP_OPS:
            # rhs nil/other: numeric view → false/nil per numeric rules
            return self._numeric_lhs(op, self._json_num(lhs), rhs)
        return _NIL()

    def _compile_in(self, lhs: CExpr, vals: list, negate: bool) -> CExpr:
        floats = [float(v) for v in vals
                  if isinstance(v, float) and not isinstance(v, bool)]
        strings = [v for v in vals if isinstance(v, str)]

        if lhs.jtype is JType.NIL:
            return _NIL()
        if lhs.jtype in (JType.FLOAT, JType.INT):
            lc, elems = lhs.col, floats
        elif lhs.jtype is JType.STRING:
            lc, elems = lhs.col, strings
        elif lhs.jtype is JType.JSONANY:
            if floats and strings:
                # dynamic lhs vs a mixed list: reflect.DeepEqual matches
                # an element of EITHER type (eval.go:367-382) — OR the
                # two typed membership tests; null lhs stays nil
                num = F.coalesce(
                    lhs.col.try_cast("double").isin(floats), F.lit(False)
                )
                s = F.coalesce(lhs.col.isin(strings), F.lit(False))
                inside = F.when(lhs.col.isNull(), F.lit(None)).otherwise(num | s)
                col = (~inside) if negate else inside
                # propagate lhs nullability like the single-type branches:
                # a non-null-declared lhs must not re-taint the enclosing
                # AND/OR tree and block the guard-free pushdown path
                return CExpr(col, JType.BOOL, nullable=lhs.nullable)
            if floats and not strings:
                # present-but-non-numeric value: try_cast → NULL, and a
                # bare isin would propagate it — but the reference
                # answers a definite false (inList returns false for a
                # string vs float list, eval.go:367-382), so NI must
                # MATCH such rows.  Only a truly missing value is nil.
                num = F.coalesce(
                    lhs.col.try_cast("double").isin(floats), F.lit(False)
                )
                inside = F.when(lhs.col.isNull(), F.lit(None)).otherwise(num)
                col = (~inside) if negate else inside
                return CExpr(col, JType.BOOL, nullable=lhs.nullable)
            lc, elems = lhs.col, strings
        else:
            return _NIL()  # bool lhs: no IN case in eval.go:139-151

        if elems:
            inside = lc.isin(elems)
        else:
            inside = F.when(lc.isNull(), F.lit(None)).otherwise(F.lit(False))
        col = (~inside) if negate else inside
        return CExpr(col, JType.BOOL, nullable=lhs.nullable)

    def _compile_regex(self, lhs: CExpr, pattern: str, negate: bool) -> CExpr:
        if lhs.jtype is JType.NIL:
            return _NIL()
        if lhs.jtype not in (JType.STRING, JType.JSONANY):
            return _NIL()  # regex only applies to strings (eval.go:276-294)
        m = lhs.col.rlike(pattern)
        return CExpr((~m) if negate else m, JType.BOOL, nullable=lhs.nullable)
