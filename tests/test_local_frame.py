"""session.local_frame: driver-built rows reach Spark as an Arrow
LocalRelation — same rows, types and checks as the list path, no Python
worker to decode them — and a static guard keeps every engine site on it."""

import ast
from pathlib import Path

import pytest
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

import moonlink_spark
from moonlink_spark.session import local_frame

# the inspect tables' types (string, long, int, boolean), binary, and
# non-nullable fields next to nullable ones
_SCHEMA = StructType(
    [
        StructField("s", StringType(), False),
        StructField("n", LongType(), True),
        StructField("i", IntegerType(), True),
        StructField("flag", BooleanType(), False),
        StructField("b", BinaryType(), True),
    ]
)
_ROWS = [
    ("a", 1, 7, True, b"\x00\x01"),
    ("é/ü", None, None, False, None),
    ("", -(2**63), 2**31 - 1, True, b""),
]


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _is_local(df) -> bool:
    plan = _physical(df)
    return "LocalTableScan" in plan and "ExistingRDD" not in plan


def test_rows_match_list_path(spark):
    df = local_frame(spark, _ROWS, _SCHEMA)
    assert _is_local(df), _physical(df)
    assert df.schema == _SCHEMA
    assert df.collect() == spark.createDataFrame(_ROWS, _SCHEMA).collect()


def test_columns_and_ddl_schema(spark):
    df = local_frame(
        spark, {"path": ["/a", "/b"], "seq": [3, None]}, "path string, seq long"
    )
    assert _is_local(df)
    ref = spark.createDataFrame([("/a", 3), ("/b", None)], "path string, seq long")
    assert df.schema == ref.schema
    assert df.collect() == ref.collect()
    # any iterable column (a set of paths) is accepted
    got = local_frame(spark, {"p": {"x", "y"}}, "p string").collect()
    assert sorted(r.p for r in got) == ["x", "y"]


def test_empty_input_keeps_schema(spark):
    for df in (
        local_frame(spark, [], _SCHEMA),
        local_frame(spark, {f.name: [] for f in _SCHEMA.fields}, _SCHEMA),
    ):
        assert df.schema == _SCHEMA
        assert _is_local(df), _physical(df)
        assert df.collect() == []


def test_rejects_what_the_list_path_rejects(spark):
    bad = [(None, 1, 1, True, None)]
    with pytest.raises(ValueError):
        spark.createDataFrame(bad, _SCHEMA)
    with pytest.raises(ValueError, match="field s:"):
        local_frame(spark, bad, _SCHEMA)
    not_null = StructType([StructField("p", StringType(), False)])
    with pytest.raises(ValueError):
        local_frame(spark, {"p": [None]}, not_null)
    with pytest.raises(ValueError):
        local_frame(spark, [("a", 1)], _SCHEMA)  # short row


def test_independent_of_arrow_conf(spark):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = local_frame(spark, _ROWS, _SCHEMA)
        assert _is_local(df), _physical(df)
        assert df.collect() == spark.createDataFrame(_ROWS, _SCHEMA).collect()
    finally:
        spark.conf.set(key, old)


# --------------------------------------------------------- static guard

# createDataFrame call sites outside local_frame, each named with why it
# stays: the user-row front-ends rely on verifySchema's per-value type
# errors; cdc.py hands Spark pandas frames, which already go through Arrow
_EXEMPT = {
    ("pg_replication.py", "_to_df"),
    ("ingest_api.py", "flush"),
    ("cdc.py", "spec_to_spark"),
    ("cdc.py", "to_spark"),
}
_ROW_LITERALS = (ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp, ast.SetComp)


def _create_dataframe_calls():
    """(file, enclosing function, first argument) per createDataFrame call
    in the package."""
    pkg = Path(moonlink_spark.__file__).parent
    out = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        stack: list[str] = []

        def visit(node):
            is_fn = isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            if is_fn:
                stack.append(node.name)
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                arg = node.args[0] if node.args else None
                out.append((path.name, stack[-1] if stack else None, arg))
            for child in ast.iter_child_nodes(node):
                visit(child)
            if is_fn:
                stack.pop()

        visit(tree)
    return out


def test_driver_rows_go_through_local_frame():
    calls = _create_dataframe_calls()
    assert ("session.py", "local_frame") in {(f, fn) for f, fn, _ in calls}
    literal = [
        (f, fn)
        for f, fn, arg in calls
        if isinstance(arg, _ROW_LITERALS) and fn != "local_frame"
    ]
    assert literal == [], "build driver rows with session.local_frame"
    others = {(f, fn) for f, fn, _ in calls if fn != "local_frame"}
    assert others == _EXEMPT, others ^ _EXEMPT
