"""crosstab — pivot table with optional margins, in ONE conditional aggregation.

Reference: core.py:1913-1991 (crosstab) + add_row_margin core.py:1994-2051,
which aggregates by index+column keys, unstacks, then re-aggregates for
margins. Spark-first shape: the paper's inline mask once per column value —
cell ``v`` = ``aggfunc(when(column == v, values))`` — in one ``groupBy(index)``.
The "All" column is the unmasked aggregate; the "All" row, the empty set of
``groupingSets([index, ()])``, collapses every index level at once. Plan: one
partial/final aggregate and the ``orderBy(index)`` sort — 2 exchanges.

Always pass ``column_values`` when known: it saves the distinct-scan job
that discovers them — at 100 TB that discovery is a full extra pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .core import GroupBy, _ALL_LABEL, _as_list

_AGG = {"sum": F.sum, "mean": F.avg, "count": F.count, "min": F.min, "max": F.max,
        "median": F.median, "var": F.var_samp, "std": F.stddev_samp}


def _cell(func: str, values: str | None, hit):
    """``func`` over the rows where ``hit`` holds, NULL on no rows: only count
    needs a guard for that, kept off the rest (it costs ~10 %)."""
    fn, x = ((F.count, F.lit(1)) if func == "size" or values is None
             else (_AGG[func], F.col(values)))
    out = fn(F.when(hit, x))
    return F.when(F.count(F.when(hit, F.lit(1))) > 0, out) if fn is F.count else out


def _names(spark, values: list) -> list:
    """Output column names of given pivot values, spelled as Spark's pivot
    spells them: their string cast ("null", "true", "1.0E-5"). Python agrees
    for None, str, int and bool; other types cast in a one-row frame (a job)."""
    if all(v is None or type(v) in (str, int, bool) for v in values):
        return ["null" if v is None else str(v).lower() if type(v) is bool else str(v)
                for v in values]
    row = spark.createDataFrame([(0,)], "i int").select(
        *[F.lit(v).cast("string") for v in values]).first()
    return ["null" if n is None else n for n in row]


def _discover(base: DataFrame, columns: str, key, want_col: bool) -> list:
    """Spark's ``pivot(col)`` discovery — its distinct query, sorted nulls
    first, the same ``spark.sql.pivotMaxValues`` error — as (value, name)
    pairs, with "All" sorted in among the string labels."""
    max_values = int(base.sparkSession.conf.get("spark.sql.pivotMaxValues"))
    found = [(v, "null" if n is None else n) for v, n in base.select(
        key.alias(columns), key.cast("string")).distinct()
        .limit(max_values + 1).sort(columns).collect()]
    if want_col and found and (_ALL_LABEL, _ALL_LABEL) not in found:
        found = sorted(found + [(_ALL_LABEL,) * 2], key=lambda p: (p[0] is not None, p[0]))
    if len(found) > max_values:
        from pyspark.errors.exceptions.captured import convert_exception
        errors = base.sparkSession._jvm.org.apache.spark.sql.errors.QueryCompilationErrors
        raise convert_exception(
            errors.aggregationFunctionAppliedOnNonNumericColumnError(columns, max_values))
    return found


def crosstab(
    df: DataFrame,
    index,
    columns: str,
    values: str | None = None,
    aggfunc: str = "size",
    mask=None,
    margins: bool | str = False,
    column_values: list | None = None,
    dropna: bool = True,
) -> DataFrame:
    """Pivot: rows = distinct ``index`` keys, one output column per distinct
    value of ``columns``, cells = aggfunc(values).

    margins: True = row and column totals, 'row' / 'column' for one axis
    (reference core.py:1955-1962). With margins the index keys and column
    labels are strings (they share their columns with "All"), and the "All"
    column also counts rows whose value is not in ``column_values``.
    """
    index = _as_list(index)
    base = GroupBy(df, index + [columns], dropna=dropna)._base()
    if mask is not None:
        base = base.filter(mask if not isinstance(mask, str) else F.col(mask))
    want_row = margins in (True, "row")      # an "All" index row
    want_col = margins in (True, "column")   # an "All" total column
    key = F.col(columns).cast("string") if margins else F.col(columns)
    if column_values is None:
        pivots = _discover(base, columns, key, want_col)
    else:
        vals = [str(v) if margins else v for v in column_values] + [_ALL_LABEL] * want_col
        pivots = list(zip(vals, _names(base.sparkSession, vals)))
    # cells mask rows null-safely, by value cast to the column's type as in
    # Spark's pivot; the "All" column's mask is true
    cast = "string" if margins else base.schema[columns].dataType
    aggs = [_cell(aggfunc, values, F.lit(True) if want_col and v == _ALL_LABEL
                  else key.eqNullSafe(F.lit(v).cast(cast))).alias(f"__c{i}")
            for i, (v, _) in enumerate(pivots)]
    grouped = base.groupingSets([index, []], *index) if want_row else base.groupBy(*index)
    rolled = F.grouping(index[0]) == 1 if want_row else F.lit(False)  # the "All" row
    agged = grouped.agg(*aggs, rolled.alias("__all"))
    keys = [F.when(F.col("__all"), F.lit(_ALL_LABEL)).otherwise(F.col(k).cast("string"))
            .alias(k) if margins else F.col(k) for k in index]
    return agged.select(
        *keys, *[F.col(f"__c{i}").alias(n) for i, (_, n) in enumerate(pivots)]).orderBy(*index)


def pivot_table(
    df: DataFrame,
    values: str | None = None,
    index=None,
    columns: str | None = None,
    aggfunc: str = "mean",
    margins: bool | str = False,
    column_values: list | None = None,
    dropna: bool = True,
    mask=None,
) -> DataFrame:
    """pandas ``pivot_table`` argument order over :func:`crosstab`'s one
    masked-cell aggregation, margins included. pandas defaults apply:
    ``aggfunc='mean'`` (crosstab defaults to counts)."""
    if index is None or columns is None:
        raise ValueError("pivot_table requires index= and columns=")
    return crosstab(df, index, columns, values=values, aggfunc=aggfunc,
                    mask=mask, margins=margins, column_values=column_values,
                    dropna=dropna)
