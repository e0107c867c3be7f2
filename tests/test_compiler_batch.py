"""Batch compiler vs reference oracle — golden parity on the translated
reference corpus (eval_test.go) plus the quirk ledger (SURVEY.md §2.9).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from jepl_spark.compiler.expr import ExprCompiler
from jepl_spark.lang.parser import parse_expr
from jepl_spark.oracle import eval_expr

from helpers import assert_matches_oracle, docs_to_df

TCP = StructType(
    [
        StructField("src_ip", DoubleType()),
        StructField("dst_ip", DoubleType()),
        StructField("in_bytes", DoubleType()),
        StructField("out_bytes", DoubleType()),
        StructField("in_pkts", DoubleType()),
        StructField("out_pkts", DoubleType()),
    ]
)
PACKETBEAT_SCHEMA = StructType(
    [StructField("uid", DoubleType()), StructField("tcp", TCP)]
)

PACKETBEAT_DOCS = [
    {
        "uid": float(i % 3),
        "tcp": {
            "src_ip": float(i % 2),
            "dst_ip": float(i % 3),
            "in_bytes": float(i * 10),
            "out_bytes": 20.0,
            "in_pkts": float(i),
            "out_pkts": 2.0,
        },
    }
    for i in range(10)
]


def test_eval_query1_sum(spark):
    assert_matches_oracle(
        spark,
        "select sum(tcp.in_bytes) from packetbeat where uid = 1",
        PACKETBEAT_DOCS,
        PACKETBEAT_SCHEMA,
    )


def test_eval_query_five_aggs_grouped(spark):
    assert_matches_oracle(
        spark,
        "select max(tcp.in_bytes), min(tcp.in_pkts), count(tcp.in_pkts), "
        "sum(tcp.in_pkts), avg(tcp.in_pkts) from packetbeat where uid = 1 "
        "group by tcp.src_ip, tcp.dst_ip",
        PACKETBEAT_DOCS,
        PACKETBEAT_SCHEMA,
    )


def test_alias_and_postagg_arithmetic(spark):
    assert_matches_oracle(
        spark,
        "select sum(tcp.in_bytes) * (sum(tcp.out_bytes) / count(uid)) AS m, "
        "sum(tcp.in_bytes + tcp.out_bytes) AS t from packetbeat where uid = 1",
        PACKETBEAT_DOCS,
        PACKETBEAT_SCHEMA,
    )


def test_column_name_conflicts(spark):
    assert_matches_oracle(
        spark,
        "select sum(tcp.in_bytes), sum(tcp.out_bytes) from packetbeat where uid = 1",
        PACKETBEAT_DOCS,
        PACKETBEAT_SCHEMA,
    )


@pytest.mark.parametrize("sql", [
    "select count(v), sum(v) from t where v > 0 group by __match_count",
    "select sum(v), count(v) from t where v > 0 group by __agg_0",
])
def test_dimension_named_like_an_internal_column(spark, sql):
    """A GROUP BY dimension may take any name the compiler uses for its
    own intermediate columns."""
    dim = sql.rsplit(" ", 1)[1]
    schema = StructType(
        [StructField("v", DoubleType()), StructField(dim, DoubleType())]
    )
    docs = [{"v": 5.0, dim: 1.0}, {"v": 7.0, dim: 1.0},
            {"v": 9.0, dim: 2.0}, {"v": -1.0, dim: 2.0}]
    assert_matches_oracle(spark, sql, docs, schema)


def test_windowed_dimension_named_like_the_window(spark):
    """Likewise for the window column of a windowed plan."""
    from jepl_spark.streaming.windows import windowed_select

    df = spark.createDataFrame(
        [(2.0, 1.0, 0), (3.0, 1.0, 600), (-1.0, 2.0, 600), (5.0, 1.0, 4000)],
        "v double, __window double, t long",
    ).withColumn("ts", F.timestamp_seconds("t"))
    out = windowed_select(
        "select sum(v) AS s, count(v) AS n from t where v > 0 group by __window",
        df, ts_col="ts", duration="1 hour",
    )
    rows = {
        (r[0], r[1]): (r[2], r[3])
        for r in out.select(F.col("window_start").cast("long"), "__window",
                            "s", "n").collect()
    }
    assert rows == {(0, 1.0): (5.0, 2.0), (0, 2.0): (0.0, 0.0),
                    (3600, 1.0): (5.0, 1.0)}


COMPILE_ONCE_RULES = [
    "select sum(tcp.in_bytes) / count(uid) AS r, max(tcp.in_pkts) AS m "
    "from packetbeat where uid = 1 OR tcp.src_ip = 0",
    "select sum(tcp.in_bytes) / count(uid) AS r, max(tcp.in_pkts) AS m "
    "from packetbeat where uid = 1 OR tcp.src_ip = 0 group by tcp.dst_ip",
]


def test_rule_compiles_each_node_once(spark, monkeypatch):
    from jepl_spark.compiler.select import compile_select
    from jepl_spark.lang.parser import parse_statement

    df = docs_to_df(spark, PACKETBEAT_DOCS, PACKETBEAT_SCHEMA)
    compiled = []
    compile_ = ExprCompiler.compile

    def counting(self, expr):
        compiled.append(expr)
        return compile_(self, expr)

    monkeypatch.setattr(ExprCompiler, "compile", counting)
    for sql in COMPILE_ONCE_RULES:
        compiled.clear()
        compile_select(parse_statement(sql), df)
        twice = [str(e) for e in compiled if sum(x is e for x in compiled) > 1]
        assert not twice, (sql, twice)


#: Py4J commands one warm compile of COMPILE_ONCE_RULES[0] may send.
#: Compiled once it sends about 585; compiling the aggregate arguments a
#: second time, as an unconditional copy, sent 837.
COMPILE_PY4J_BOUND = 700


def test_compile_select_py4j_commands(spark, monkeypatch):
    import threading

    from jepl_spark.compiler.select import compile_select
    from jepl_spark.lang.parser import parse_statement

    df = docs_to_df(spark, PACKETBEAT_DOCS, PACKETBEAT_SCHEMA)
    stmt = parse_statement(COMPILE_ONCE_RULES[0])
    compile_select(stmt, df)  # warm the schema and Py4J's class lookups
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    me = threading.get_ident()
    sent = 0

    def counting(*args, **kwargs):
        nonlocal sent
        sent += threading.get_ident() == me
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    compile_select(stmt, df)
    monkeypatch.undo()
    assert 0 < sent <= COMPILE_PY4J_BOUND, sent


def test_no_dims_plan_evaluates_predicate_only_in_filter(spark):
    """Without GROUP BY the predicate runs once, in the Filter under
    the aggregate; the aggregates themselves carry no condition."""
    from jepl_spark.compiler.select import compile_select
    from jepl_spark.lang.parser import parse_statement

    df = docs_to_df(spark, PACKETBEAT_DOCS, PACKETBEAT_SCHEMA)
    plan = compile_select(parse_statement(COMPILE_ONCE_RULES[0]), df)
    lines = plan._jdf.queryExecution().optimizedPlan().toString().splitlines()
    aggregate = [l for l in lines if "Aggregate [" in l]
    where = [l for l in lines if "Filter " in l]
    assert len(aggregate) == 1 and "CASE WHEN" not in aggregate[0], aggregate
    assert len(where) == 1 and "CASE WHEN" in where[0], where


def test_agg_arg_arithmetic_div0(spark):
    # float ÷ 0 inside aggregate args follows Go float division
    # (quirk §2.9.5): doc0 contributes 0/0 → NaN, even docs ±Inf —
    # the oracle and the Spark plan must agree on the NaN/Inf sum
    assert_matches_oracle(
        spark,
        "select sum(tcp.in_bytes / tcp.src_ip) from packetbeat where uid >= 0",
        PACKETBEAT_DOCS,
        PACKETBEAT_SCHEMA,
    )


def test_empty_match_zeros(spark):
    assert_matches_oracle(
        spark,
        "select sum(tcp.in_bytes), avg(tcp.in_bytes), max(tcp.in_bytes), "
        "min(tcp.in_bytes), count(uid) from packetbeat where uid = 99",
        PACKETBEAT_DOCS,
        PACKETBEAT_SCHEMA,
    )


def test_group_zero_match_groups(spark):
    # groups enumerated pre-WHERE → zero-valued rows (quirk §2.9.6)
    assert_matches_oracle(
        spark,
        "select count(uid), sum(tcp.in_bytes) from packetbeat where uid = 1 "
        "group by tcp.src_ip",
        PACKETBEAT_DOCS,
        PACKETBEAT_SCHEMA,
    )


MISSING_SCHEMA = StructType(
    [StructField("uid", DoubleType()), StructField("v", DoubleType())]
)


def test_missing_field_quirks(spark):
    docs = [
        {"uid": 1.0, "v": 10.0},
        {"uid": 1.0, "v": None},  # missing field on matched row
        {"uid": 0.0, "v": 99.0},
        {"uid": 1.0, "v": -5.0},
    ]
    assert_matches_oracle(
        spark,
        "select count(v), sum(v), avg(v), max(v), min(v) from t where uid = 1",
        docs,
        MISSING_SCHEMA,
    )


def test_statically_missing_column(spark):
    docs = [{"uid": 1.0, "v": 2.0}]
    assert_matches_oracle(
        spark,
        "select count(nonexistent), sum(nonexistent) from t where uid = 1",
        docs,
        MISSING_SCHEMA,
    )


EVENTS_SCHEMA = StructType(
    [
        StructField("user", StringType()),
        StructField("kind", StringType()),
        StructField("value", DoubleType()),
    ]
)
EVENTS_DOCS = [
    {"user": f"u{i % 4}", "kind": ["click", "view", "error"][i % 3], "value": float(i)}
    for i in range(30)
]


def test_string_filters_in_regex(spark):
    assert_matches_oracle(
        spark,
        "select sum(value) from e where kind IN ['click','view'] group by user",
        EVENTS_DOCS,
        EVENTS_SCHEMA,
    )
    assert_matches_oracle(
        spark,
        "select count(value) from e where kind =~ /^cl/ group by user",
        EVENTS_DOCS,
        EVENTS_SCHEMA,
    )
    assert_matches_oracle(
        spark,
        "select count(value) from e where kind !~ /w$/ AND user <> 'u0'",
        EVENTS_DOCS,
        EVENTS_SCHEMA,
    )


def test_numeric_in_list_type_strictness(spark):
    # int list elements never match float values (quirk §2.9.8)
    assert_matches_oracle(
        spark,
        "select count(value) from e where value IN [1,2,3]",
        EVENTS_DOCS,
        EVENTS_SCHEMA,
    )
    assert_matches_oracle(
        spark,
        "select count(value) from e where value IN [1.0,2.0,3.0]",
        EVENTS_DOCS,
        EVENTS_SCHEMA,
    )
    assert_matches_oracle(
        spark,
        "select count(value) from e where value NI [1.0,2.0,3.0]",
        EVENTS_DOCS,
        EVENTS_SCHEMA,
    )


def test_logic_and_comparison_composition(spark):
    assert_matches_oracle(
        spark,
        "select count(value) from e where value + 3 < 30 AND value > 2 OR kind = 'error'",
        EVENTS_DOCS,
        EVENTS_SCHEMA,
    )
    assert_matches_oracle(
        spark,
        "select count(value) from e where (value * 2) - 1 >= 9 AND kind != 'view'",
        EVENTS_DOCS,
        EVENTS_SCHEMA,
    )


# ---------------------------------------------------------------------------
# predicate-level truth table: compiled Column vs oracle, incl. nil quirks

TRUTH_SCHEMA = StructType(
    [
        StructField("uid", DoubleType()),
        StructField("foo", StringType()),
        StructField("num", DoubleType()),
    ]
)

PRED_CASES = [
    ("uid IN [1,2,3]", {"uid": 1.0}),
    ("uid IN [1.0,2.0,3.0]", {"uid": 1.0}),
    ("uid IN [1.0,2.0,3.0]", {"uid": 4.0}),
    ("uid NI [1.0,2.0,3.0]", {"uid": 1.0}),
    ("uid NI [1.0,2.0,3.0]", {"uid": 4.0}),
    ("foo IN ['xxx','yyy']", {"foo": "xxx"}),
    ("foo NI ['xxx','yyy']", {"foo": "uuu"}),
    ("uid IN [1.0,2.0]", {"uid": None}),
    ("uid NI [1.0,2.0]", {"uid": None}),
    ("4 = 4", {}),
    ("4 AND 5", {}),
    ("0 = 'test'", {}),
    ("1.0 = 1", {}),
    ("true AND false", {}),
    ("true OR false", {}),
    ("false = 4", {}),
    ("'foo' = 'foo'", {}),
    ("'' = 4", {}),
    ("'foo' =~ /f.*/", {}),
    ("'foo' !~ /b.*/", {}),
    ("foo = 'bar'", {"foo": "bar"}),
    ("foo = 'bar'", {"foo": None}),
    ("foo <> 'bar'", {"foo": "xxx"}),
    ("foo =~ /b.*/", {"foo": "bar"}),
    ("foo !~ /b.*/", {"foo": "bar"}),
    # nil-propagation (eval.go:139-151)
    ("true OR missing = 1", {}),
    ("true AND missing = 1", {}),
    ("missing = 1 OR true", {}),
    ("num > 1 OR foo = 'bar'", {"num": None, "foo": "bar"}),
    ("num > 1 AND foo = 'bar'", {"num": 5.0, "foo": None}),
    ("num / 0 = 0", {"num": 5.0}),       # 5/0 → +Inf → Inf = 0 → false
    ("4 / num = 0", {"num": 0.0}),       # int ÷ float-0 → 0.0 (live guard)
    ("num / num > 0", {"num": 0.0}),     # 0/0 → NaN → NaN > 0 → false
    ("num + 1 > 5", {"num": 5.0}),
    ("num = foo", {"num": 5.0, "foo": "5"}),
    ("uid > foo", {"uid": 1.0, "foo": "x"}),
    ("num - 2 * 3 = -1", {"num": 5.0}),
]


def test_empty_input_parity(spark):
    """Zero input docs: a global rule still yields exactly one all-zero
    row (the reference drains one accumulator set per condition);
    a grouped rule yields zero rows (no keys to enumerate)."""
    schema = StructType(
        [StructField("uid", DoubleType()), StructField("v", DoubleType())]
    )
    assert_matches_oracle(
        spark,
        "select sum(v) AS s, count(v) AS n, avg(v) AS a from t where uid = 1",
        [],
        schema,
    )
    assert_matches_oracle(
        spark,
        "select sum(v) AS s from t where uid = 1 group by uid",
        [],
        schema,
    )


def test_boolean_operand_comparison_exact(spark):
    """Regression (code-review finding 1): `(a != b) = false` must use
    exact nil semantics even though the tree is OR-free — the inner
    comparison's nil collapses to false on the rhs of EQ in the
    reference, where Kleene logic would propagate NULL."""
    docs = [
        {"uid": 1.0, "v": None},   # a != b → nil → (nil = false) → false? no:
        {"uid": 2.0, "v": 2.0},
    ]
    schema = StructType(
        [StructField("uid", DoubleType()), StructField("v", DoubleType())]
    )
    assert_matches_oracle(
        spark,
        "select count(uid) AS n from t where (uid != v) = false",
        docs,
        schema,
    )
    # and the lhs-nil case: nil = false → nil → dropped
    assert_matches_oracle(
        spark,
        "select count(uid) AS n from t where (v != 99) = false",
        docs,
        schema,
    )


def test_jsonany_relational_comparison(spark):
    """Regression (code-review finding 2): relational ops between two
    JSON-extracted values compare numerically."""
    schema = StructType([StructField("props", StringType())])
    docs = [
        {"props": '{"x": 5, "y": 1}'},
        {"props": '{"x": 1, "y": 5}'},
        {"props": '{"x": 2}'},
    ]
    df = docs_to_df(spark, docs, schema)
    from jepl_spark.compiler.select import compile_select
    from jepl_spark.lang.parser import parse_statement

    out = compile_select(
        parse_statement("select count(props.x) AS n from t where props.x > props.y"),
        df,
    ).collect()
    assert out[0]["n"] == 1.0  # only the first doc matches; missing y → nil


def test_predicate_truth_table(spark):
    """For each case: row passes the compiled filter ⇔ the oracle's
    condition result is boolean true (EvalBool, eval.go:299-304)."""
    rows = []
    exprs = []
    for i, (text, doc) in enumerate(PRED_CASES):
        full = {"uid": None, "foo": None, "num": None}
        full.update(doc)
        rows.append((i, full))
        exprs.append((i, text, doc))

    compiler = ExprCompiler(TRUTH_SCHEMA)
    for i, text, doc in exprs:
        full = {"uid": None, "foo": None, "num": None}
        full.update(doc)
        df = docs_to_df(spark, [full], TRUTH_SCHEMA)
        pred = compiler.compile_predicate(parse_expr(text))
        spark_pass = df.filter(pred).count() == 1
        oracle_pass = eval_expr(parse_expr(text), doc) is True
        assert spark_pass == oracle_pass, (
            f"case {i}: {text!r} over {doc}: spark={spark_pass} oracle={oracle_pass}"
        )


def test_div_zero_reference_dispatch(spark):
    """÷0 follows the reference's actual typed dispatch (ADVICE r1):
    float lhs → Go float division (±Inf/NaN); int-literal lhs ÷ float
    0.0 → 0.0 (eval.go:227-231, the one live guard); int ÷ int 0 →
    raises (the reference panics)."""
    schema = StructType(
        [StructField("uid", DoubleType()), StructField("v", DoubleType())]
    )
    docs = [{"uid": 1.0, "v": 4.0}, {"uid": 1.0, "v": -4.0}]
    # float field ÷ literal 0 → ±Inf; sum(+Inf, -Inf) → NaN both sides
    assert_matches_oracle(
        spark, "select sum(v / 0) AS s from t where uid = 1", docs, schema
    )
    # +Inf only
    assert_matches_oracle(
        spark, "select sum(v / 0) AS s from t where v > 0", docs, schema
    )
    # int-literal lhs ÷ float-zero field → 0.0 per row
    docs0 = [{"uid": 1.0, "v": 0.0}, {"uid": 1.0, "v": 2.0}]
    assert_matches_oracle(
        spark, "select sum(8 / v) AS s from t where uid = 1", docs0, schema
    )
    # int ÷ int 0 folds to the reference's panic → compile error
    from jepl_spark.compiler.expr import JeplCompileError
    from jepl_spark.compiler.select import compile_select
    from jepl_spark.lang.parser import parse_statement

    df = docs_to_df(spark, docs, schema)
    with pytest.raises(JeplCompileError, match="division by zero"):
        compile_select(
            parse_statement("select sum(v) AS s from t where v / (4 / 0) = 1"),
            df,
        )


def test_postagg_div_zero_inf(spark):
    """Post-aggregate ÷ is float64 ÷ float64 in the reference: an
    empty-match denominator gives Go float division, not 0.0."""
    schema = StructType(
        [StructField("uid", DoubleType()), StructField("v", DoubleType())]
    )
    docs = [{"uid": 1.0, "v": 4.0}, {"uid": 2.0, "v": -4.0}]
    # count(v)=0 under uid = 99 → sum/count = 0/0 → NaN on both sides
    assert_matches_oracle(
        spark,
        "select sum(v) / count(v) AS r from t where uid = 99",
        docs,
        schema,
    )
    # and an int literal over a zero aggregate → 0.0 (live guard)
    assert_matches_oracle(
        spark,
        "select 7 / sum(v) AS r from t where uid = 99",
        docs,
        schema,
    )


@pytest.mark.parametrize("field", ["sum(v) + 'a'", "sum(v) / (4 / 0)"])
def test_postagg_field_rejected(spark, field):
    """A post-aggregate field that is not a number, or that divides an
    int by int 0 in a constant subtree, is rejected at compile."""
    from jepl_spark.compiler.expr import JeplCompileError
    from jepl_spark.compiler.select import compile_select
    from jepl_spark.lang.parser import parse_statement

    df = docs_to_df(spark, [{"v": 1.0}], StructType([StructField("v", DoubleType())]))
    with pytest.raises(JeplCompileError):
        compile_select(parse_statement(f"select {field} from t where v > 0"), df)


def test_groupby_nil_dimension_rejected(spark):
    """A dimension that resolves to statically-nil must be rejected at
    compile (ADVICE r1): the reference panics in FlatStatByGroup and the
    repo oracle raises — a silent NULL-keyed group would disagree."""
    from jepl_spark.compiler.expr import JeplCompileError
    from jepl_spark.compiler.select import compile_select
    from jepl_spark.lang.parser import parse_statement

    schema = StructType([StructField("uid", DoubleType())])
    df = docs_to_df(spark, [{"uid": 1.0}], schema)
    with pytest.raises(JeplCompileError, match="GROUP BY dimension"):
        compile_select(
            parse_statement(
                "select count(uid) AS n from t where uid > 0 group by nope"
            ),
            df,
        )


def test_jsonany_mixed_list_membership(spark):
    """IN on a JSON-extracted lhs with a mixed float+string list matches
    an element of EITHER type (reflect.DeepEqual, eval.go:367-382) —
    ADVICE r1 fix: the old compile picked string-only."""
    from jepl_spark.compiler.select import compile_select
    from jepl_spark.lang.parser import parse_statement

    schema = StructType([StructField("props", StringType())])
    docs = [
        {"props": '{"k": 5}'},        # JSON number 5 → matches 5.0
        {"props": '{"k": "five"}'},   # JSON string → matches 'five'
        {"props": '{"k": 7}'},        # matches neither
        {"props": '{}'},              # missing → nil → no match
    ]
    df = docs_to_df(spark, docs, schema)
    out = compile_select(
        parse_statement(
            "select count(props.k) AS n from t where props.k IN [5.0,'five']"
        ),
        df,
    ).collect()
    assert out[0]["n"] == 2.0
    # NI: non-members match, nil stays nil (dropped)
    out = compile_select(
        parse_statement(
            "select count(props.k) AS n from t where props.k NI [5.0,'five']"
        ),
        df,
    ).collect()
    assert out[0]["n"] == 1.0


def test_or_predicate_pushdown_with_non_null_hint(spark, tmp_path):
    """OR-trees keep reference nil-guards by default (a nil lhs poisons
    OR, unlike Kleene), but with a caller-declared non-null contract
    the guards drop and the whole Or(...) reaches the parquet scan as a
    pushed filter (VERDICT r1 item 10)."""
    from jepl_spark.engine import JeplEngine

    path = str(tmp_path / "ev")
    docs = [
        {"uid": float(i % 5), "kind": ["click", "view", "error"][i % 3],
         "v": float(i)}
        for i in range(60)
    ]
    schema = StructType([
        StructField("uid", DoubleType()),
        StructField("kind", StringType()),
        StructField("v", DoubleType()),
    ])
    docs_to_df(spark, docs, schema).write.mode("overwrite").parquet(path)

    rule = ("select sum(v) AS s, count(uid) AS n from t "
            "where uid = 1 OR kind = 'click' OR uid > 3")
    hinted = JeplEngine(spark, {"t": path},
                        non_null={"t": {"uid", "kind"}}).sql(rule)
    plain = JeplEngine(spark, {"t": path}).sql(rule)

    # identical results on null-free data
    assert hinted.collect() == plain.collect()
    # matches the oracle too
    assert_matches_oracle(spark, rule, docs, schema)

    plan = hinted._jdf.queryExecution().executedPlan().toString()
    scan = [l for l in plan.split("\n") if "PushedFilters" in l][0]
    assert "Or(" in scan, scan


def test_nan_guard_preserves_nil_lhs(spark):
    """Review r2 finding 1: with a non-nullable NaN literal on the rhs,
    the NaN comparison guard must not swallow a nil lhs — the reference
    yields nil (`nil OR true` → nil → no match)."""
    schema = StructType(
        [StructField("uid", DoubleType()), StructField("x", DoubleType())]
    )
    docs = [{"uid": 1.0, "x": None}, {"uid": 1.0, "x": 3.0}]
    assert_matches_oracle(
        spark,
        "select count(uid) AS n from t where x > 0.0 / 0.0 OR true",
        docs,
        schema,
    )


def test_nan_numerator_divided_by_zero(spark):
    """Review r2 finding 2/3: NaN ÷ 0 must be NaN (Go float division),
    not +Inf — Spark's NaN-greatest ordering made `lc > 0` fire for
    NaN in the zero_case; both predicate and post-agg paths."""
    schema = StructType(
        [StructField("uid", DoubleType()), StructField("x", DoubleType())]
    )
    docs = [{"uid": 1.0, "x": 0.0}]
    # (x/(x-x)) = 0/0 = NaN; NaN/(x-x) = NaN/0 = NaN
    assert_matches_oracle(
        spark,
        "select sum((x / (x - x)) / (x - x)) AS s from t where uid = 1",
        docs,
        schema,
    )
    # post-aggregate: inner 0/0 over an empty match, then ÷ count
    assert_matches_oracle(
        spark,
        "select (sum(x) / sum(x)) / count(x) AS r from t where uid = 99",
        docs,
        schema,
    )


def test_jsonany_rhs_cast_null_with_non_null_hint(spark, tmp_path):
    """Review r2 finding 4: a JSONANY rhs declared never-null still
    yields cast-introduced NULLs for type-mismatched values; the
    reference answers false (ok && …), so the rhs guard must stay."""
    from jepl_spark.engine import JeplEngine

    path = str(tmp_path / "t")
    schema = StructType(
        [StructField("value", DoubleType()), StructField("props", StringType())]
    )
    docs = [
        {"value": 5.0, "props": '{"k": "abc"}'},   # rhs cast → NULL
        {"value": 5.0, "props": '{"k": 1}'},
    ]
    docs_to_df(spark, docs, schema).write.mode("overwrite").parquet(path)
    rule = ("select count(value) AS n from t "
            "where (value > props.k) = false")
    hinted = JeplEngine(
        spark, {"t": path}, non_null={"t": {"value", "props.k"}}
    ).sql(rule).collect()
    # row 1: value > 'abc' → false (type mismatch), false = false → match
    # row 2: 5 > 1 → true, true = false → no match
    assert hinted[0]["n"] == 1.0
    # oracle parity on the equivalent NESTED-dict docs (the oracle's
    # doc model is parsed JSON; the engine extracts from the raw
    # string column — same values either way)
    from jepl_spark.oracle import eval_sql

    pm = eval_sql(rule, [{"value": 5.0, "props": {"k": "abc"}},
                         {"value": 5.0, "props": {"k": 1}}])
    assert pm["(value > props.k) = false"] == [1.0]


def test_jsonany_numeric_ni_nonnumeric_value(spark):
    """Review r3: NI over a float-only list with a present-but-
    non-numeric JSON value must MATCH (reference inList → false →
    NI true); only a truly missing key is nil."""
    from jepl_spark.compiler.select import compile_select
    from jepl_spark.lang.parser import parse_statement

    schema = StructType([StructField("props", StringType())])
    docs = [
        {"props": '{"k": "abc"}'},  # present, non-numeric → NI matches
        {"props": '{"k": 1.0}'},    # member → NI no-match
        {"props": '{"k": 7}'},      # non-member number → NI matches
        {"props": "{}"},            # missing → nil → no match
    ]
    df = docs_to_df(spark, docs, schema)
    out = compile_select(
        parse_statement("select count(props.k) AS n from t where props.k NI [1.0, 2.0]"),
        df,
    ).collect()
    assert out[0]["n"] == 2.0
    out = compile_select(
        parse_statement("select count(props.k) AS n from t where props.k IN [1.0, 2.0]"),
        df,
    ).collect()
    assert out[0]["n"] == 1.0


def test_jsonany_equality_numeric_first(spark):
    """Review r3: JSON 5 = JSON 5.0 must match (the reference compares
    float64, not the raw texts '5' vs '5.0')."""
    from jepl_spark.compiler.select import compile_select
    from jepl_spark.lang.parser import parse_statement

    schema = StructType([StructField("props", StringType())])
    docs = [
        {"props": '{"a": 5, "b": 5.0}'},      # numerically equal → match
        {"props": '{"a": 5, "b": 6}'},        # differ → no match
        {"props": '{"a": "x", "b": "x"}'},    # equal strings → match
        {"props": '{"a": "x", "b": "y"}'},    # differ → no match
        {"props": '{"a": 1}'},                # rhs missing → nil
    ]
    df = docs_to_df(spark, docs, schema)
    out = compile_select(
        parse_statement("select count(props.a) AS n from t where props.a = props.b"),
        df,
    ).collect()
    assert out[0]["n"] == 2.0


def test_runtime_null_group_dim_fails_like_reference(spark):
    """Review r3: a dimension null on SOME row must fail the job (the
    reference panics, the oracle raises) instead of silently forming a
    NULL-keyed group."""
    from jepl_spark.compiler.select import compile_select
    from jepl_spark.lang.parser import parse_statement
    from jepl_spark.oracle import eval_sql

    schema = StructType(
        [StructField("uid", DoubleType()), StructField("k", StringType())]
    )
    docs = [{"uid": 1.0, "k": "a"}, {"uid": 2.0, "k": None}]
    df = docs_to_df(spark, docs, schema)
    plan = compile_select(
        parse_statement("select count(uid) AS n from t where uid > 0 group by k"),
        df,
    )
    with pytest.raises(Exception, match="GROUP BY dimension"):
        plan.collect()
    with pytest.raises(ValueError, match="missing from document"):
        eval_sql("select count(uid) AS n from t where uid > 0 group by k", docs)


def test_where_less_rules_rejected(spark):
    """Review r3: the reference crashes on WHERE-less rules (eval.go:41)
    and the oracle raises — the compiler must reject them too."""
    from jepl_spark.compiler.expr import JeplCompileError
    from jepl_spark.compiler.select import compile_select
    from jepl_spark.lang.parser import parse_statement
    from jepl_spark.streaming.windows import windowed_select

    schema = StructType([StructField("v", DoubleType())])
    df = docs_to_df(spark, [{"v": 1.0}], schema)
    with pytest.raises(JeplCompileError, match="WHERE is required"):
        compile_select(parse_statement("select sum(v) from t"), df)
    df2 = df.withColumn("ts", F.lit("2024-01-01").cast("timestamp"))
    with pytest.raises(JeplCompileError, match="WHERE is required"):
        windowed_select("select sum(v) from t", df2, ts_col="ts", duration="1 hour")


def test_minhash_bands_divisibility():
    from jepl_spark.operators.dedup import minhash_candidates

    with pytest.raises(ValueError, match="divisible"):
        minhash_candidates(None, num_hashes=64, bands=12)


def test_negative_zero_divisor_sign(spark):
    """Review r4: Go float division takes the DIVISOR's sign into the
    Inf — x / -0.0 → -Inf for x > 0 (±0.0 compare equal, so the sign
    comes from the zero's sign bit; reachable via y*z with y<0, z=0)."""
    schema = StructType(
        [StructField("x", DoubleType()), StructField("y", DoubleType()),
         StructField("z", DoubleType())]
    )
    docs = [{"x": 2.0, "y": -1.0, "z": 0.0}]
    assert_matches_oracle(
        spark, "select count(x) AS n from t where x / (y * z) > 0", docs, schema
    )
    assert_matches_oracle(
        spark, "select sum(x / (y * z)) AS s from t where x > 0", docs, schema
    )
    assert_matches_oracle(
        spark,
        "select count(x) AS n from t where x / (y * z) > 0",
        [{"x": 2.0, "y": 1.0, "z": 0.0}],
        schema,
    )


def test_tokenizer_edge_whitespace_consistency(spark):
    """Review r4: Spark trim() strips only spaces — tab/newline-edged
    text must still tokenize identically to the classic
    replace-then-split normalization (shingles, simhash, and the md5
    content groups all have to agree)."""
    from jepl_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(0, "foo bar baz"), (1, "\tfoo bar baz\n"), (2, "  foo\tbar\nbaz ")],
        ["doc_id", "text"],
    )
    rows = df.select(
        "doc_id",
        D.word_shingles(F.col("text"), 3).alias("sh"),
        D.simhash64(F.col("text")).alias("sim"),
        D.content_hash(F.col("text")).alias("md5"),
    ).collect()
    r = {x["doc_id"]: x for x in rows}
    assert sorted(r[0]["sh"]) == sorted(r[1]["sh"]) == sorted(r[2]["sh"])
    assert r[0]["sim"] == r[1]["sim"] == r[2]["sim"]
    assert r[0]["md5"] == r[1]["md5"] == r[2]["md5"]


def test_nan_cols_contract_ieee_comparisons(spark, tmp_path):
    """ADVICE r2: parquet CAN store NaN in a double column even though
    JSON cannot.  The `nan_cols` data contract buys the reference's
    IEEE comparison semantics for such columns (NaN op x -> false,
    != -> true); without the declaration the documented divergence is
    Spark's NaN-greatest ordering."""
    import math

    from jepl_spark.engine import JeplEngine

    path = str(tmp_path / "nan_ev")
    schema = StructType([
        StructField("uid", DoubleType()), StructField("v", DoubleType()),
    ])
    docs = [
        {"uid": 1.0, "v": float("nan")},
        {"uid": 2.0, "v": 10.0},
        {"uid": 3.0, "v": 5.0},
    ]
    docs_to_df(spark, docs, schema).write.mode("overwrite").parquet(path)

    eng = JeplEngine(spark, {"t": path}, nan_cols={"t": {"v"}})

    def n(engine, rule):
        return engine.sql(f"select count(uid) AS n from t where {rule}").collect()[0]["n"]

    # IEEE: NaN > x and NaN = NaN are false, NaN != x is true
    assert n(eng, "v > 5") == 1.0
    assert n(eng, "v != 5") == 2.0
    assert n(eng, "v = v") == 2.0
    # the oracle agrees (its Go-semantics float comparisons are IEEE)
    assert_matches_oracle(
        spark, "select count(uid) AS n from t where v > 5", docs, schema,
        nan_cols={"v"},
    )
    assert_matches_oracle(
        spark, "select sum(uid) AS s from t where v != 5 group by uid",
        docs, schema, nan_cols={"v"},
    )

    # undeclared: Spark's NaN-greatest ordering leaks through — the
    # documented divergence this contract exists to close
    plain = JeplEngine(spark, {"t": path})
    assert n(plain, "v > 5") == 2.0
