"""``core.exact_sum``: the order-independent money sum on 64-bit integers.

Its contract is equality with ``F.sum(x.cast("decimal(28,6)"))``, value
and type, on every row it accepts, and an error on every row where the
two could differ. The guardrail reads the package's source: no Spark
``sum`` over a ``DECIMAL(28,6)`` cast is left outside the helper.
"""

import ast
import re
from pathlib import Path

import numpy as np
import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polars_dataset_spark.core import exact_sum

PKG = Path(__file__).resolve().parents[1] / "polars_dataset_spark"


def _values():
    """(group, value) rows: one group per kind of value."""
    rng = np.random.default_rng(14)
    rows = []
    for dp, bound in ((2, 5e8), (4, 5e8), (6, 6.9e8)):
        scale = 10**dp
        ints = rng.integers(-int(bound * scale), int(bound * scale), 400)
        rows += [(f"dp{dp}", int(i) / scale) for i in ints]
        # small magnitudes too, where most rows have all their digits
        rows += [(f"dp{dp}_small", int(i) / scale) for i in rng.integers(-10**6, 10**6, 200)]
    rows += [("dp2_edge", v) for v in (6.9e8 - 0.01, -6.9e8 + 0.01, 0.01, -0.01, 0.0, -0.0)]
    rows += [("arbitrary", float(v)) for v in rng.uniform(-1e3, 1e3, 400)]
    rows += [("arbitrary", float(v)) for v in rng.normal(0, 1e-3, 200)]
    rows += [("arbitrary", v) for v in (1 / 3, -2 / 3, np.pi, np.e, 1e-300, 5e-324)]
    rows += [("with_nulls", v) for v in (1.25, None, 2.5, None)]
    rows += [("all_null", None), ("all_null", None)]
    rows += [("non_finite", v) for v in (float("nan"), 3.5, float("inf"), float("-inf"), 0.25)]
    rows += [("only_nan", float("nan")), ("only_inf", float("inf"))]
    return rows


@pytest.mark.parametrize("ansi", ["true", "false"])
def test_equals_decimal_sum(spark, ansi):
    df = spark.createDataFrame(_values(), "g string, x double")
    prior = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", ansi)
    try:
        out = df.groupBy("g").agg(
            exact_sum("x").alias("fast"),
            exact_sum("-x").alias("fast2"),
            F.sum(F.col("x").cast("decimal(28,6)")).alias("dec"),
            F.sum((-F.col("x")).cast("decimal(28,6)")).alias("dec2"),
        )
        assert out.schema["fast"].dataType == T.DecimalType(38, 6)
        rows = out.collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)
    by_group = {r.g: r for r in rows}
    assert len(by_group) == 13
    for r in rows:
        assert (r.fast, r.fast2) == (r.dec, r.dec2), r.g
    for g in ("all_null", "only_nan", "only_inf"):
        assert by_group[g].fast is None
    assert float(by_group["non_finite"].fast) == 3.75
    assert float(by_group["with_nulls"].fast) == 3.75


def test_empty_input_is_null(spark):
    df = spark.createDataFrame([], "x double")
    row = df.agg(
        exact_sum("x").alias("fast"), F.sum(F.col("x").cast("decimal(28,6)")).alias("dec")
    ).first()
    assert row.fast is None and row.dec is None


@pytest.mark.parametrize("value", [5e-7, 0.1234565, 2.0000005, 1e13, -1e13])
def test_tie_or_out_of_range_row_raises(spark, value):
    df = spark.createDataFrame([(1.0,), (value,)], "x double")
    with pytest.raises(SparkRuntimeException, match="exact_sum"):
        df.agg(exact_sum("x")).collect()


def _is_decimal_28_6(node) -> bool:
    """``<expr>.cast("decimal(28,6)")`` or ``.cast(DecimalType(28, 6))``."""
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "cast"
        and node.args
    ):
        return False
    arg = node.args[0]
    if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
        return arg.value.replace(" ", "").lower() == "decimal(28,6)"
    if isinstance(arg, ast.Call):
        name = getattr(arg.func, "attr", getattr(arg.func, "id", None))
        consts = [a.value for a in arg.args if isinstance(a, ast.Constant)]
        return name == "DecimalType" and consts == [28, 6]
    return False


# a Spark SQL string summing a DECIMAL(28,6) cast
_SQL_DECIMAL_SUM = re.compile(r"sum\s*\(\s*cast\s*\(.*as\s+decimal\s*\(\s*28\s*,\s*6\s*\)", re.I | re.S)


def _sql_text(node) -> str:
    """The constant text of a string or f-string node ("" for others)."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(_sql_text(v) for v in node.values)
    return ""


def _decimal_sums(source: str) -> list:
    """``(function, line)`` of every ``sum(...)`` call whose argument holds a
    ``DECIMAL(28,6)`` cast, directly or through a name assigned one, and of
    every ``expr``/``selectExpr``/``sql`` call whose SQL sums one."""
    found = []

    def holds_cast(node, names) -> bool:
        return any(
            _is_decimal_28_6(n) or (isinstance(n, ast.Name) and n.id in names)
            for n in ast.walk(node)
        )

    def visit(func, qual):
        names: set = set()
        for node in ast.walk(func):
            if isinstance(node, ast.Assign) and holds_cast(node.value, names):
                names |= {t.id for t in node.targets if isinstance(t, ast.Name)}
        for node in ast.walk(func):
            if isinstance(node, ast.Call):
                name = getattr(node.func, "attr", getattr(node.func, "id", None))
                if name == "sum" and any(holds_cast(a, names) for a in node.args):
                    found.append((qual, node.lineno))
                if name in ("expr", "selectExpr", "sql") and any(
                    _SQL_DECIMAL_SUM.search(_sql_text(a)) for a in node.args
                ):
                    found.append((qual, node.lineno))

    tree = ast.parse(source)
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            visit(node, node.name)
    return found


def test_guard_finds_decimal_sums():
    old = '''
def q01(li):
    price_d = F.col("l_extendedprice").cast("decimal(28,6)")
    return li.agg(F.sum(price_d), F.sum(F.col("v").cast("decimal(28, 6)")))

def q02(li):
    return li.agg(F.sum(F.col("v").cast(T.DecimalType(28, 6))), F.sum(F.col("v")))

def q03(li):
    return li.agg(F.expr("SUM(CAST(v AS DECIMAL(28, 6)))"), F.expr("sum(v)"))
'''
    found = sorted(_decimal_sums(old))
    assert found == [("q01", 4), ("q01", 4), ("q02", 7), ("q03", 10)]


def test_no_decimal_sum_outside_exact_sum():
    stray = [
        f"{path.relative_to(PKG)}:{line} ({func})"
        for path in sorted(PKG.rglob("*.py"))
        for func, line in _decimal_sums(path.read_text())
        if func != "exact_sum"
    ]
    assert not stray, f"sum over a DECIMAL(28,6) cast (use core.exact_sum): {stray}"
