"""crosstab / pivot_table: parity with pandas ``pivot_table`` over a grid of
arguments, and the plan shape of the one masked-cell aggregation."""

import json

import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandas_plus_spark import crosstab

# no null keys or values, so pandas' dropna and margin rules match ours;
# ("y", "b") / (2, 20) and ("z", "a") / (3, 10) have no rows: empty cells
_ROWS = [
    ("x", 1, "a", 10, 1.0), ("x", 1, "b", 20, 2.0), ("x", 1, "a", 10, 4.0),
    ("y", 2, "a", 10, 3.0), ("y", 2, "c", 30, 5.0), ("y", 1, "c", 30, 8.0),
    ("z", 3, "b", 20, 7.0), ("z", 3, "c", 30, 6.0), ("x", 2, "c", 30, 0.5),
]
_SHAPES = [(["r"], "c"), (["r", "k"], "ci"), (["r"], "ci"), (["r", "k"], "c")]
_AGGS = ["size", "count", "sum", "mean", "median"]
_MARGINS = [False, True, "row", "column"]
# every margins value and values mode meets every shape and aggfunc
_GRID = [(m, a, given, _SHAPES[(i + j + 2 * given) % 4])
         for i, m in enumerate(_MARGINS) for j, a in enumerate(_AGGS)
         for given in (True, False)]


@pytest.fixture(scope="module")
def frames(spark):
    pdf = pd.DataFrame(_ROWS, columns=["r", "k", "c", "ci", "v"])
    sdf = spark.createDataFrame(_ROWS, "r string, k long, c string, ci long, v double")
    return pdf, sdf


def _expected_columns(col, given, margins):
    """Output column labels, in Spark's pivot order."""
    present = {"c": ["a", "b", "c"], "ci": [10, 20, 30]}[col]
    absent = {"c": "zz", "ci": 99}[col]
    want_col = margins in (True, "column")
    if given:  # the listed order, an absent value, "All" last
        vals = [present[2], present[0], absent, present[1]]
        return vals, [str(v) for v in vals] + (["All"] if want_col else [])
    labels = [str(v) for v in present]
    if margins:  # string labels, "All" sorted in among them
        labels = sorted(labels + (["All"] if want_col else []))
    return None, labels


def _cell(x):
    return None if pd.isna(x) else float(x)


@pytest.mark.parametrize("margins,aggfunc,given,shape", _GRID)
def test_parity_with_pandas(frames, margins, aggfunc, given, shape):
    pdf, sdf = frames
    index, col = shape
    values = None if aggfunc == "size" else "v"
    column_values, labels = _expected_columns(col, given, margins)
    out = crosstab(sdf, index, col, values=values, aggfunc=aggfunc,
                   margins=margins, column_values=column_values)

    # schema: index keys (strings once margins are on), then the labels
    key_type = {"r": "string", "k": "bigint"}
    cell_type = "bigint" if aggfunc in ("size", "count") else "double"
    assert [(f.name, f.dataType.simpleString()) for f in out.schema.fields] == (
        [(k, "string" if margins else key_type[k]) for k in index]
        + [(lab, cell_type) for lab in labels])

    # pandas' margins fail on aggfunc="size"; with no null values, size is count
    want = pdf.pivot_table(values="v", index=index, columns=col,
                           aggfunc="count" if aggfunc == "size" else aggfunc,
                           margins=bool(margins),
                           margins_name="All")
    if len(index) > 1 and margins:  # pandas spells the "All" row ("All", "")
        want.index = pd.MultiIndex.from_tuples(
            [t if t[0] != "All" else ("All",) * len(index) for t in want.index])
    want.columns = [str(c) for c in want.columns]
    if margins == "row":
        want = want.drop(columns="All")
    if margins == "column":
        want = want.drop(index=want.index[-1])

    def norm(key):  # our keys are strings once margins are on
        key = key if len(index) > 1 else (key,)
        return tuple(str(k) if margins else k for k in key)

    want_rows = {norm(key): want.loc[key] for key in want.index}
    got = out.collect()
    assert sorted(map(str, want_rows)) == sorted(
        str(tuple(r[k] for k in index)) for r in got)
    for row in got:
        expect = want_rows[tuple(row[k] for k in index)]
        for lab in labels:
            cell = _cell(expect[lab]) if lab in want.columns else None
            assert row[lab] == pytest.approx(cell), (tuple(row), lab)
    # ordered by the index keys (strings once margins are on)
    keys = [tuple(r[k] for k in index) for r in got]
    assert keys == sorted(keys)


def _plan_nodes(df):
    return json.loads(df._jdf.queryExecution().optimizedPlan().toJSON())


@pytest.mark.parametrize("margins,expand", [(True, True), ("row", True),
                                            ("column", False), (False, False)])
def test_one_aggregation_plan(tables, margins, expand):
    out = crosstab(tables["lineitem"], "l_returnflag", "l_linestatus",
                   "l_quantity", "sum", margins=margins, column_values=["F", "O"])
    nodes = _plan_nodes(out)
    expands = [n for n in nodes if n["class"].endswith(".Expand")]
    assert len(expands) == (1 if expand else 0)
    if expand:  # the index set and the empty set, nothing else
        assert len(expands[0]["projections"]) == 2
    assert sum(n["class"].endswith(".Aggregate") for n in nodes) == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PivotFirst" not in plan
    assert plan.count("Exchange ") == 2  # the aggregation's and the sort's


def test_calls_neither_cube_nor_pivot(frames, monkeypatch):
    from pyspark.sql import DataFrame, GroupedData

    def refuse(*a, **k):
        raise AssertionError("crosstab must not build a cube or a pivot")

    monkeypatch.setattr(DataFrame, "cube", refuse)
    monkeypatch.setattr(GroupedData, "pivot", refuse)
    _, sdf = frames
    for margins in _MARGINS:
        crosstab(sdf, ["r", "k"], "c", "v", "sum", margins=margins).collect()


def test_null_column_value_kept_with_dropna_false(spark):
    df = spark.createDataFrame(
        [("x", "a", 1.0), ("x", "b", 2.0), ("y", None, 3.0), ("y", "c", 4.0)],
        "r string, c string, v double")
    plain = crosstab(df, "r", "c", "v", "sum", dropna=False)
    assert plain.columns == ["r", "null", "a", "b", "c"]
    assert [tuple(r) for r in plain.collect()] == [
        ("x", None, 1.0, 2.0, None), ("y", 3.0, None, None, 4.0)]
    full = crosstab(df, "r", "c", "v", "sum", dropna=False, margins=True)
    assert full.columns == ["r", "null", "All", "a", "b", "c"]
    assert [tuple(r) for r in full.collect()] == [
        ("All", 3.0, 10.0, 1.0, 2.0, 4.0),
        ("x", None, 3.0, 1.0, 2.0, None), ("y", 3.0, 7.0, None, None, 4.0)]
    # the default drops the null-keyed row before anything is counted
    assert crosstab(df, "r", "c", margins=True).columns == ["r", "All", "a", "b", "c"]


def test_column_names_spelled_as_spark_casts(spark):
    # Spark's pivot names a column by the value's string cast, which Python's
    # str spells differently for floats and booleans
    df = spark.createDataFrame([("x", 1e-5, True), ("y", 2e7, False)],
                               "r string, f double, b boolean")
    assert crosstab(df, "r", "f").columns == ["r", "1.0E-5", "2.0E7"]
    assert crosstab(df, "r", "f", column_values=[2e7]).columns == ["r", "2.0E7"]
    assert crosstab(df, "r", "b").columns == ["r", "false", "true"]
    assert crosstab(df, "r", "b", column_values=[True]).columns == ["r", "true"]


def test_discovery_keeps_pivot_max_values_error(spark, frames):
    from pyspark.errors import AnalysisException
    _, sdf = frames
    spark.conf.set("spark.sql.pivotMaxValues", "3")
    try:
        crosstab(sdf, "r", "c").collect()  # 3 values fit
        with pytest.raises(AnalysisException) as err:
            crosstab(sdf, "r", "c", margins=True)  # 3 values + "All" do not
        assert err.value.getCondition() == "_LEGACY_ERROR_TEMP_1324"
        assert err.value.getMessageParameters() == {
            "pivotColumn": "c", "maxValues": "3", "config": "spark.sql.pivotMaxValues"}
    finally:
        spark.conf.unset("spark.sql.pivotMaxValues")


def test_empty_input_yields_no_rows(frames):
    _, sdf = frames
    empty = sdf.filter(F.col("v") < 0)
    for margins in _MARGINS:
        assert crosstab(empty, "r", "c", "v", "sum", margins=margins,
                        column_values=["a"]).collect() == []
