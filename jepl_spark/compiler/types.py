"""Static type inference for JEPL expressions over a Spark schema.

The reference is dynamically typed per document (ast.go:39-52,
eval.go:106-127).  Under Spark a column's type is fixed by the schema,
so the reference's per-row dispatch collapses to compile-time dispatch:

- any numeric Spark column ≡ JSON number ≡ float64 (eval.go:109-111) →
  compiled with a cast to DoubleType
- a StringType column with *further* path segments is treated as a raw
  JSON document → ``get_json_object`` extraction (type JSONANY, coerced
  by operator context)
- a path that cannot resolve in the schema is statically nil — the
  reference returns nil for missing keys on every row (eval.go:121-127)
"""

from __future__ import annotations

import enum

from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DataType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    MapType,
    ShortType,
    StringType,
    StructType,
)


class JType(enum.Enum):
    FLOAT = "float"     # all numerics (JSON-number rule)
    INT = "integer"     # integer *literals* only (parser.go:480-485)
    STRING = "string"
    BOOL = "boolean"
    NIL = "nil"         # statically-known missing → nil every row
    JSONANY = "jsonany" # get_json_object extraction; context-coerced
    LIST = "list"
    REGEX = "regex"


_NUMERIC_SPARK = (
    ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType, DecimalType,
)


def spark_to_jtype(dt: DataType) -> JType:
    if isinstance(dt, _NUMERIC_SPARK):
        return JType.FLOAT
    if isinstance(dt, StringType):
        return JType.STRING
    if isinstance(dt, BooleanType):
        return JType.BOOL
    # struct/array/map accessed as a scalar → nil (eval.go:121-123)
    return JType.NIL


class ResolvedRef:
    """A VarRef resolved against a schema: Column + JType + nullability.

    ``nullable`` comes from the schema: a field declared non-nullable
    (and with no nullable ancestor struct) can never be the reference's
    nil, which lets the expression compiler drop its null-guard CASE
    wrappers — the difference between an unpushable CASE tree and a
    bare `col op lit` predicate that reaches the parquet scan, OR-trees
    included."""

    __slots__ = ("col", "jtype", "nullable")

    def __init__(self, col, jtype: JType, nullable: bool = True) -> None:
        self.col = col
        self.jtype = jtype
        self.nullable = nullable


def resolve_var_ref(schema: StructType, segments: list[str]) -> ResolvedRef:
    """Resolve dotted segments against the schema.

    Resolution order: exact flat column name (``a.b`` as a literal
    column) first, then struct descent from the root segment, then
    JSON-string extraction once descent hits a StringType column.
    """
    val = ".".join(segments)
    fields = {f.name: f for f in schema.fields}

    if val in fields:
        f = fields[val]
        jt = spark_to_jtype(f.dataType)
        col = F.col(f"`{val}`")
        if jt is JType.FLOAT:
            col = col.cast(DoubleType())
        if jt is JType.NIL:
            col = F.lit(None)
        return ResolvedRef(col, jt, nullable=f.nullable or jt is JType.NIL)

    if segments[0] not in fields:
        return ResolvedRef(F.lit(None), JType.NIL)

    root = fields[segments[0]]
    dt: DataType = root.dataType
    nullable = root.nullable  # any nullable ancestor taints the leaf
    path = f"`{segments[0]}`"
    for i, seg in enumerate(segments[1:], start=1):
        if isinstance(dt, StructType):
            sub = {f.name: f for f in dt.fields}
            if seg not in sub:
                return ResolvedRef(F.lit(None), JType.NIL)
            path = f"{path}.`{seg}`"
            nullable = nullable or sub[seg].nullable
            dt = sub[seg].dataType
        elif isinstance(dt, StringType):
            # raw JSON document column: extract the remaining path
            json_path = "$." + ".".join(segments[i:])
            return ResolvedRef(
                F.get_json_object(F.expr(path), json_path), JType.JSONANY
            )
        elif isinstance(dt, (ArrayType, MapType)):
            return ResolvedRef(F.lit(None), JType.NIL)
        else:
            # scalar with leftover segments → missing (eval.go:121-127)
            return ResolvedRef(F.lit(None), JType.NIL)

    jt = spark_to_jtype(dt)
    col = F.expr(path)
    if jt is JType.FLOAT:
        col = col.cast(DoubleType())
    if jt is JType.NIL:
        col = F.lit(None)
    return ResolvedRef(col, jt, nullable=nullable or jt is JType.NIL)
