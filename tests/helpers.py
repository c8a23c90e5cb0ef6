"""Shared test helpers: doc→DataFrame conversion and oracle↔Spark
golden comparison (reconstructs the reference's group-key strings)."""

from __future__ import annotations

import math
from typing import Any, Optional

from pyspark.sql import DataFrame, SparkSession

from jepl_spark.compiler.select import compile_select
from jepl_spark.lang import ast
from jepl_spark.lang.parser import parse_statement
from jepl_spark.oracle import eval_expr, eval_sql


def docs_to_df(spark: SparkSession, docs: list[dict], schema) -> DataFrame:
    return spark.createDataFrame(docs, schema=schema)


def _group_key(stmt: ast.SelectStatement, dim_values: list[Any]) -> str:
    """Reproduce FlatStatByGroup's condition-string key (groupby.go:8-46)
    from structured dim values."""
    root_str: Optional[str] = None
    for dim, val in zip(stmt.dimensions, dim_values):
        if isinstance(val, bool):
            lit = "true" if val else "false"
        elif isinstance(val, str):
            lit = ast.quote_string(val)
        else:
            lit = f"{float(val):.3f}"
        clause = f"{lit} = {dim}"
        if root_str is None:
            root_str = f"true AND {clause}"
        else:
            root_str = f"{root_str} AND {clause}"
    return f"{root_str} AND {stmt.condition}"


def assert_matches_oracle(
    spark: SparkSession, sql: str, docs: list[dict], schema,
    nan_cols=frozenset(),
) -> None:
    """Run `sql` through BOTH the Spark compiler and the reference
    oracle over the same docs; assert identical group→metrics maps."""
    stmt = parse_statement(sql)
    df = docs_to_df(spark, docs, schema)
    result = compile_select(stmt, df, nan_cols=nan_cols)

    expected = eval_sql(sql, docs)

    rows = result.collect()
    n_dims = len(stmt.dimensions)
    got: dict[str, list[float]] = {}
    for row in rows:
        vals = list(row)
        if n_dims:
            key = _group_key(stmt, vals[:n_dims])
        else:
            key = str(stmt.condition)
        got[key] = [float(v) for v in vals[n_dims:]]

    assert set(got.keys()) == set(expected.keys()), (
        f"group keys differ:\n spark={sorted(got)}\n oracle={sorted(expected)}"
    )
    for k in expected:
        assert len(got[k]) == len(expected[k])
        for a, b in zip(got[k], expected[k]):
            # NaN ≡ NaN here: ÷0 follows Go float division (±Inf/NaN)
            same = (math.isnan(a) and math.isnan(b)) or math.isclose(
                a, b, rel_tol=1e-9, abs_tol=1e-9
            )
            assert same, f"{k}: spark={got[k]} oracle={expected[k]}"

    # column names must match the reference's ColumnNames()
    expect_names = stmt.column_names()
    got_names = result.columns[n_dims:]
    assert got_names == expect_names, (got_names, expect_names)


def spy(monkeypatch, module, name: str) -> list:
    """Wrap ``module.name`` for the test's duration; each call appends
    ``name`` to the returned list."""
    calls: list = []
    real = getattr(module, name)

    def wrapper(*args, **kwargs):
        calls.append(name)
        return real(*args, **kwargs)

    monkeypatch.setattr(module, name, wrapper)
    return calls
