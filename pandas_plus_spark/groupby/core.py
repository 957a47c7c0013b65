"""GroupBy engine — the Spark-native equivalent of the reference's core.

The reference (pandas-plus) centers on a ``GroupBy`` object that caches key
factorization so many aggregations reuse it (reference groupby/core.py:146-213,
README.md:16). In Spark, factorization is the hash shuffle: Catalyst plans
``groupBy().agg()`` as partial HashAggregate → Exchange → final HashAggregate,
so there is nothing to hand-cache for a single query. What *is* worth
preserving across queries is the shuffled layout — ``GroupBy.persist()`` below
repartitions by the keys once and caches, so repeated aggregations against the
same keys skip the exchange (Catalyst sees the child partitioning satisfies
the distribution requirement).

Semantics carried over from the reference:

- ``mask=`` on every aggregation (reference core.py:812-848): filtered
  aggregation *inside* the agg, i.e. ``sum(CASE WHEN mask THEN x END)`` —
  one pass over the data, no pre-materialized filter (reference README.md:15-19).
  Masks are boolean Columns. The reference additionally accepts positional
  mask forms — slices and integer fancy indexers with zero-copy semantics
  (numba.py:779-783, tests/test_mask_indexing.py) — which have no positional
  analog on a distributed table: express them as predicates over an explicit
  row-id column instead (slice ``a:b`` → ``F.col("rid").between(a, b-1)``,
  indexer ``[i, j]`` → ``F.col("rid").isin(i, j)``); the boolean-Column path
  then applies unchanged (pinned by tests/test_mask_matrix.py).
- Null group keys are dropped from results (reference numba.py:441-443);
  ``dropna=False`` keeps them (Spark's native behavior).
- ``transform=True`` broadcasts the group aggregate back to row shape
  (reference core.py:694-702) — a window function, one pass, no join.
- ``margins=True`` appends "All" total rows (reference core.py:1994-2051) —
  ``rollup`` + ``grouping()``, computed by Catalyst in a single pass via
  grouping sets (the reference re-aggregates recursively; Spark does not
  need to).
- Ordered operators (cumulative / rolling / shift / head / nth / first / last)
  take an explicit ``order_by``; the reference relies on implicit array order
  (reference numba.py:438-457) which does not exist on a distributed table.

Everything compiles to DataFrame/Column expressions — no RDDs, no collect in
the compute path, no row-at-a-time Python UDFs.
"""

from __future__ import annotations

import functools
import math
import re
import types
import warnings
from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["GroupBy", "NUMERIC_KINDS"]

# Value types the reference's numeric kernels accept (reference
# util.py:504-514 silently drops non-numeric columns before aggregation).
NUMERIC_KINDS = (
    T.ByteType,
    T.ShortType,
    T.IntegerType,
    T.LongType,
    T.FloatType,
    T.DoubleType,
    T.DecimalType,
    T.BooleanType,
    T.TimestampType,
    T.TimestampNTZType,
    T.DateType,
    T.DayTimeIntervalType,
)

_ALL_LABEL = "All"  # margin label, matching the reference's add_row_margin


def _as_list(x) -> list:
    if x is None:
        return []
    if isinstance(x, (str, Column)):
        return [x]
    return list(x)


def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _zip_array_key(df: DataFrame, arr, name: str) -> DataFrame:
    """Positionally-aligned array key (reference api.py:765-772: raw arrays
    zip against the frame by position; length mismatch raises).

    The array lives on the driver, so this path is inherently
    driver-bounded: the key ships as ONE broadcast join against a global
    row number over the physical row order. The row number is computed
    WITHOUT a single-task global window (the `WindowExec: No Partition
    Defined` scale-killer): row order is (input partition id, offset) —
    exactly `monotonically_increasing_id` order — so a per-partition
    `row_number` (window PARTITIONED by the pre-shuffle
    `spark_partition_id()`, parallel) plus driver-side prefix offsets from
    a tiny per-partition count job reconstructs the global position. The
    count job doubles as the reference's eager len() check, so the path
    still costs exactly one extra job. Deterministic for a given source
    layout (no range-boundary sampling anywhere); at scale pass a real key
    column instead."""
    import pandas as pd

    vals = list(arr)
    # __zip_pid/__zip_mid are projected BELOW the window exchange (the
    # exchange depends on them), so they always see the INPUT partitioning.
    with_pid = df.withColumn("__zip_pid", F.spark_partition_id()) \
                 .withColumn("__zip_mid", F.monotonically_increasing_id())
    counts = sorted(
        with_pid.groupBy("__zip_pid").agg(F.count(F.lit(1)).alias("__n"))
        .collect())
    n = sum(r["__n"] for r in counts)
    if len(vals) != n:
        raise ValueError(
            f"Length of grouper ({len(vals)}) != length of DataFrame ({n})")
    offs, acc = [], 0
    for r in counts:
        offs.append((r["__zip_pid"], acc))
        acc += r["__n"]
    spark = df.sparkSession
    offs_df = spark.createDataFrame(
        pd.DataFrame(offs or [(0, 0)], columns=["__zip_pid", "__zip_off"]))
    keys_df = spark.createDataFrame(
        pd.DataFrame({"__zip_rid": range(len(vals)), name: vals}))
    w = Window.partitionBy("__zip_pid").orderBy("__zip_mid")
    with_rid = (
        with_pid.withColumn("__zip_lrn", F.row_number().over(w) - 1)
        .join(F.broadcast(offs_df), "__zip_pid")
        .withColumn("__zip_rid", F.col("__zip_off") + F.col("__zip_lrn"))
        .drop("__zip_pid", "__zip_mid", "__zip_lrn", "__zip_off")
    )
    return with_rid.join(F.broadcast(keys_df), "__zip_rid", "left").drop("__zip_rid")


class _groupby_method:
    """Descriptor making an aggregation callable BOTH as an instance method
    and as a class-level static form:

        GroupBy.sum(df, keys, values)  ==  GroupBy(df, keys).sum(values)

    (reference ``groupby_method`` decorator, core.py:107-143 — it constructs
    the GroupBy on the fly whenever ``self`` isn't already one). Ordered
    aggregations (first/last) accept ``order_by=`` in the static form."""

    def __init__(self, fn):
        self._fn = fn
        functools.update_wrapper(self, fn)

    def __get__(self, obj, cls):
        if obj is not None:
            return types.MethodType(self._fn, obj)
        fn = self._fn

        @functools.wraps(fn)
        def static_form(df, keys, *args, **kwargs):
            order_by = kwargs.pop("order_by", None)
            return fn(cls(df, keys, order_by=order_by), *args, **kwargs)

        return static_form


class GroupBy:
    """Grouped view over a DataFrame: ``GroupBy(df, keys).sum(values, mask=...)``.

    Parameters
    ----------
    df : DataFrame
    keys : str | Column | list — grouping key column(s).
    order_by : str | list | None — column(s) defining row order for the
        ordered operators (cumsum/rolling/shift/head/nth/first/last). Required
        by those operators; ignored by plain aggregations.
    sort : bool — sort the result by key columns (reference core.py:164).
    dropna : bool — drop null-key groups (reference default; numba.py:441-443).

    Scale note (FEW, HUGE groups)
    -----------------------------
    The ordered operators here compile to ``Window.partitionBy(keys)``,
    which funnels each group through ONE task — superlinear once a group
    outgrows a task (measured at 100M rows over 5 keys, BASELINE.md).
    Every one of them has a range-partition twin in
    ``pandas_plus_spark.functions.ordered`` whose parallelism is the
    partition count: ``grouped_cumsum``, ``grouped_cumminmax``,
    ``grouped_ffill`` (+``backward=``), ``grouped_shift``,
    ``grouped_row_number``/``grouped_take``, ``grouped_rolling_sum/
    _mean/_var`` (single-stat calls of ``grouped_rolling_stats``, which
    computes several rolling stats in one pass), ``grouped_expanding``,
    ``grouped_rank``. ``ewm_*`` need no twin — the scan path has no
    per-group window. Prefer the twins when the group count is far below
    the cluster's parallelism.
    """

    def __init__(
        self,
        df: DataFrame,
        keys=None,
        order_by=None,
        sort: bool = True,
        dropna: bool = True,
        level=None,
    ):
        # level= compat shim (reference api.py:739-805 resolves index level
        # NAMES to groupers): a Spark frame has no index, so level names are
        # simply column names — `GroupBy(df, level="date")` ≡
        # `GroupBy(df, "date")`, making pandas-facade code drop-in.
        # Positional (integer) levels have no Spark analog: there is no
        # level order without an index — pass names.
        if level is not None:
            if keys is not None:
                raise ValueError(
                    "pass either keys or level=, not both (level names ARE "
                    "key columns on a Spark frame)")
            lv = list(level) if isinstance(level, (list, tuple)) else [level]
            bad = [x for x in lv if not isinstance(x, str)]
            if bad:
                raise TypeError(
                    f"integer/positional levels {bad} have no Spark analog "
                    "(a DataFrame has no index level order) — pass level "
                    "NAMES, which resolve as key columns")
            keys = lv
        if keys is None:
            raise TypeError("GroupBy requires keys (or level= names)")
        # Key resolution mirrors the reference's _resolve_by_keys
        # (api.py:739-805): a top-level list/tuple is a collection of keys;
        # each key may be a column name, a Column expression, a callable
        # (applied to the DataFrame → derived Column — the Spark analog of
        # the reference's callable-on-index), or an array-like
        # (numpy/pandas), zipped positionally as a generated key column.
        raw_keys = list(keys) if isinstance(keys, (list, tuple)) else [keys]
        key_names: list[str] = []
        for i, k in enumerate(raw_keys):
            if isinstance(k, str):
                key_names.append(k)
                continue
            if callable(k) and not isinstance(k, Column):
                k = k(df)
                if isinstance(k, str):
                    key_names.append(k)
                    continue
                if not isinstance(k, Column):
                    raise TypeError(
                        "callable key must return a column name or Column "
                        f"(got {type(k).__name__}); the reference applies "
                        "callables to the index (api.py:774-776) — the Spark "
                        "analog derives a key from the row")
            if isinstance(k, Column):
                name = f"_key_{i}"
                df = df.withColumn(name, k)
                key_names.append(name)
            elif hasattr(k, "__iter__"):
                name = f"_key_{i}"
                df = _zip_array_key(df, k, name)
                key_names.append(name)
            else:
                raise TypeError(
                    f"key must be str, Column, callable or array-like, got "
                    f"{type(k).__name__}")
        self._df = df
        self._keys = key_names
        if not self._keys:
            raise ValueError("GroupBy requires at least one key column")
        self._order_by: list[str] = _as_list(order_by)
        self._sort = sort
        self._dropna = dropna
        self._persisted = False

    # ------------------------------------------------------------------ #
    # plumbing
    # ------------------------------------------------------------------ #

    @property
    def df(self) -> DataFrame:
        return self._df

    @property
    def keys(self) -> list[str]:
        return list(self._keys)

    def persist(self) -> "GroupBy":
        """Reuse the shuffle across many aggregations (the reference's
        factorization-reuse, README.md:16): repartition by keys once, cache.
        Subsequent groupBy(keys) aggregations see the required hash
        distribution already satisfied and skip the Exchange."""
        if not self._persisted:
            self._df = self._df.repartition(*[F.col(k) for k in self._keys]).cache()
            self._persisted = True
        return self

    def unpersist(self) -> "GroupBy":
        if self._persisted:
            self._df.unpersist()
            self._persisted = False
        return self

    def _base(self) -> DataFrame:
        df = self._df
        if self._dropna:
            cond = None
            for k in self._keys:
                c = F.col(k).isNotNull()
                cond = c if cond is None else cond & c
            df = df.filter(cond)
        return df

    def _numeric_values(self, values) -> list[str]:
        """Resolve a values argument; None = all numeric non-key columns
        (the reference's silent numeric filter, util.py:504-514)."""
        if values is None:
            return [
                f.name
                for f in self._df.schema.fields
                if f.name not in self._keys and isinstance(f.dataType, NUMERIC_KINDS)
            ]
        vals = [v if isinstance(v, str) else str(v) for v in _as_list(values)]
        known = set(self._df.columns)
        missing = [v for v in vals if v not in known]
        if missing:
            raise ValueError(
                f"value column(s) {missing} not in DataFrame; available: "
                f"{sorted(known)}")
        return vals

    def _masked(self, col, mask) -> Column:
        c = _col(col)
        if mask is None:
            return c
        return F.when(_col(mask), c)

    def _finish(self, out: DataFrame, sort: bool | None = None) -> DataFrame:
        if self._sort if sort is None else sort:
            out = out.orderBy(*self._keys)
        return out

    # ------------------------------------------------------------------ #
    # expression builders
    # ------------------------------------------------------------------ #

    _ARITHMETIC_FUNCS = frozenset(
        {"sum", "dsum", "mean", "sum_squares", "median", "approx_median",
         "var", "std", "prod", "sem", "skew", "kurt"})

    def _agg_expr(self, func: str, col: str, mask, ddof: int = 1,
                  keep_decimal: bool = False, q: float | None = None) -> Column:
        """One aggregate expression with inline-mask semantics."""
        if func in ("corr", "cov", "cov_pop"):
            # two-column aggregates: col is a (x, y) pair; the mask nulls
            # BOTH sides so masked rows drop out pairwise (Spark and DuckDB
            # both skip pairs with any null)
            if not (isinstance(col, (tuple, list)) and len(col) == 2):
                raise ValueError(f"{func} requires a (x, y) column pair")
            vx = self._masked(col[0], mask)
            vy = self._masked(col[1], mask)
            if func == "corr":
                return F.corr(vx, vy)
            return F.covar_samp(vx, vy) if func == "cov" else F.covar_pop(vx, vy)
        # booleans are numeric to the reference's kernels (util.py:81-86,
        # sums promote to int64, numba.py:36-40); Spark requires the cast.
        if (
            func in self._ARITHMETIC_FUNCS
            and isinstance(col, str)
            and col in dict(self._df.dtypes)
            and dict(self._df.dtypes)[col] == "boolean"
        ):
            col = F.col(col).cast("long")
        v = self._masked(col, mask)
        if func == "sum":
            return F.sum(v)
        if func == "dsum":
            # order-independent sum: per-row cast to exact decimal, integer
            # accumulation, cast back. Float sums at ~1e9 magnitude differ in
            # the last ulps across partition orders (IEEE addition is not
            # associative); at 1000 executors the order is nondeterministic,
            # so any hash/equality check on a big float sum flaps. The
            # decimal path costs one widening per row and is bit-stable.
            # keep_decimal=True skips the final double cast so a second
            # aggregation level can keep accumulating exactly (two-level
            # distinct-avoidance composition, e.g. segment_revenue).
            # Magnitude envelope of decimal(27,6): values quantize at 1e-6
            # (below ~5e-7 rounds to 0) and per-row values beyond ~1e21
            # overflow (ANSI mode throws). Right for currency/quantity
            # facts; for micro-scale floats pre-scale or use plain "sum".
            e = F.sum(v.cast("decimal(27,6)"))
            return e if keep_decimal else e.cast("double")
        if func == "dsum_scaled":
            # Fine-level half of the hierarchical exact sum: round each value
            # to the 1e-6 grain and accumulate as a LONG — same per-row
            # quantization as dsum's decimal cast, but the aggregation buffer
            # is a plain long (measured ~40% faster than decimal accumulation
            # on a 6M-row two-level aggregate). Overflow envelope (ANSI mode
            # throws, never silently wraps): rows_per_group x max|v| x 1e6
            # must stay under 2^63 — pick a fine key (order id, supplier id,
            # or a deterministic hash-salt bucket) that bounds group size;
            # the coarse level then finishes exactly with dsum_unscale's
            # decimal accumulation, which has no practical bound.
            return F.sum(F.round(v * F.lit(1e6)).cast("long"))
        if func == "dsum_unscale":
            # Coarse-level half: exact decimal sum of the scaled longs,
            # unscale, surface as double (bit-stable under any partition
            # order, like dsum).
            return (F.sum(v.cast("decimal(38,0)"))
                    / F.lit(1_000_000).cast("decimal(38,0)")).cast("double")
        if func == "mean":
            return F.avg(v)
        if func == "min":
            return F.min(v)
        if func == "max":
            return F.max(v)
        if func == "count":
            return F.count(v)
        if func == "size":
            # rows per group incl. nulls (reference core.py:749-764); with a
            # mask, rows where the mask holds.
            return F.count(F.when(_col(mask), F.lit(1)) if mask is not None else F.lit(1))
        if func == "sum_squares":
            return F.sum(v * v)
        if func == "median":
            return F.median(v)
        if func == "approx_median":
            return F.percentile_approx(self._masked(col, mask), 0.5)
        if func in ("var", "std"):
            if ddof == 1:
                return F.var_samp(v) if func == "var" else F.stddev_samp(v)
            if ddof == 0:
                return F.var_pop(v) if func == "var" else F.stddev_pop(v)
            # general ddof: (Σx² − (Σx)²/n)/(n−ddof)  (reference core.py:1052-1058)
            n = F.count(v)
            var = (F.sum(v * v) - F.sum(v) * F.sum(v) / n) / (n - F.lit(ddof))
            return var if func == "var" else F.sqrt(var)
        if func == "prod":
            # pandas GroupBy.prod (min_count=0): the empty/all-null group
            # is the EMPTY PRODUCT, 1.0 — coalesce reproduces it
            return F.coalesce(F.product(v), F.lit(1.0))
        if func in ("any", "all"):
            # pandas truthiness for numerics (nonzero = true); booleans
            # pass through; NULLs are skipped (skipna), and the vacuous
            # group follows pandas: any([]) = False, all([]) = True
            dt = dict(self._df.dtypes).get(col if isinstance(col, str) else "")
            b = v if dt == "boolean" else (v != 0)
            if func == "any":
                return F.coalesce(F.bool_or(b), F.lit(False))
            return F.coalesce(F.bool_and(b), F.lit(True))
        if func == "sem":
            # pandas GroupBy.sem: std(ddof)/sqrt(n_non_null) — composed
            # from the SAME var machinery the group_var_std gate pins
            n = F.count(v)
            if ddof in (0, 1):
                sd = F.stddev_samp(v) if ddof == 1 else F.stddev_pop(v)
            else:
                var = (F.var_pop(v) * n) / (n - F.lit(ddof))
                sd = F.sqrt(var)
            return sd / F.sqrt(n)
        if func in ("skew", "kurt"):
            # pandas GroupBy.skew / kurt: the bias-corrected sample moments
            # (adjusted Fisher-Pearson G1; sample excess kurtosis G2) —
            # DuckDB's skewness/kurtosis use the same correction. Spark's
            # builtins are the POPULATION moments g1 = m3/m2^1.5 and
            # g2 = m4/m2^2 - 3, so rescale:
            #   G1 = g1 * sqrt(n(n-1)) / (n-2)            (null when n < 3)
            #   G2 = ((n+1) g2 + 6)(n-1) / ((n-2)(n-3))   (null when n < 4)
            # Zero-variance groups are 0.0 in pandas (DuckDB says NULL) —
            # pinned by the unit test; one keyed agg pass either way.
            n = F.count(v)
            nd = n.cast("double")
            zero_var = F.var_pop(v) == 0
            if func == "skew":
                adj = (F.skewness(v) * F.sqrt(nd * (nd - 1))
                       / (nd - 2))
                return (F.when(n < 3, F.lit(None).cast("double"))
                        .when(zero_var, F.lit(0.0)).otherwise(adj))
            adj = (((nd + 1) * F.kurtosis(v) + 6) * (nd - 1)
                   / ((nd - 2) * (nd - 3)))
            return (F.when(n < 4, F.lit(None).cast("double"))
                    .when(zero_var, F.lit(0.0)).otherwise(adj))
        if func == "nunique":
            return F.count_distinct(v)
        if func == "approx_nunique":
            return F.approx_count_distinct(v)
        if func in ("quantile", "approx_quantile"):
            # exact linear-interpolation percentile (SQL percentile_cont
            # semantics — matches DuckDB quantile_cont); approx_quantile is
            # the sketch-based scale path (t-digest-style, bounded memory)
            if q is None:
                raise ValueError("quantile requires q= (float in [0, 1])")
            if func == "quantile":
                return F.percentile(v, F.lit(q))
            return F.percentile_approx(v, F.lit(q))
        raise ValueError(f"unknown aggregation {func!r}")

    def _ordered_first_last(self, func: str, col: str, mask) -> Column:
        """first/last **non-null** in row order (reference core.py:1096-1174,
        ScalarFuncs.first/last numba.py:372-386). Spark's first/last are
        order-nondeterministic, so: min/max over struct(order, value) with
        null values excluded — struct min/max orders by the leading field."""
        if not self._order_by:
            raise ValueError("first/last require order_by (the reference relies on "
                             "implicit array order, which a distributed table lacks)")
        v = self._masked(col, mask)
        ord_cols = [F.col(o) for o in self._order_by]
        pair = F.when(v.isNotNull(), F.struct(*ord_cols, v.alias("__v")))
        agg = F.min(pair) if func == "first" else F.max(pair)
        return agg["__v"]

    # ------------------------------------------------------------------ #
    # core aggregation driver
    # ------------------------------------------------------------------ #

    def _complete_keys(self, out: DataFrame) -> DataFrame:
        """observed_only=False: re-index the result on the cartesian product
        of each key's observed values (reference factorize_2d's full
        MultiIndex, util.py:1212-1215). Missing combos get NULL aggregates.
        HAZARD at scale: the product explodes for high-cardinality multi-keys
        — this is computed lazily and only on request, never by default."""
        base = self._base()
        combos = None
        for k in self._keys:
            d = base.select(k).distinct()
            combos = d if combos is None else combos.crossJoin(d)
        # the aggregated side is group-cardinality-sized — broadcast it so
        # the completion join never shuffles the combo frame
        return combos.join(F.broadcast(out), on=self._keys, how="left")

    def _apply(
        self,
        func: str,
        values=None,
        mask=None,
        transform: bool = False,
        margins: bool = False,
        ddof: int = 1,
        alias: Mapping[str, str] | None = None,
        observed_only: bool = True,
    ) -> DataFrame:
        cols = self._numeric_values(values)
        if not cols and func != "size":
            raise ValueError("no numeric value columns to aggregate")

        def expr_for(c: str) -> Column:
            if func in ("first", "last"):
                return self._ordered_first_last(func, c, mask)
            return self._agg_expr(func, c, mask, ddof=ddof)

        if func == "size":
            exprs = [self._agg_expr("size", "", mask).alias("size")]
        else:
            exprs = [expr_for(c).alias((alias or {}).get(c, c)) for c in cols]

        if transform:
            # Broadcast the group aggregate back to row shape
            # (reference core.py:694-702): window over the keys, one pass.
            w = Window.partitionBy(*self._keys)
            out = self._base()
            if func == "size":
                out = out.withColumn("size", F.count(
                    F.when(_col(mask), F.lit(1)) if mask is not None else F.lit(1)).over(w))
            else:
                for c in cols:
                    name = (alias or {}).get(c, f"{c}_{func}")
                    out = out.withColumn(name, self._agg_expr(func, c, mask, ddof=ddof).over(w))
            return out

        base = self._base()
        if margins:
            return self._finish(self._with_margins(base, exprs, margins))
        # observed_only=True drops groups whose rows are ALL masked out
        # (reference core.py:704-717) — co-compute the masked size in the
        # same pass, filter, drop the helper column. Without a mask every
        # group trivially has rows, so nothing to do. The reference exempts
        # size(): fully-masked groups report size 0, not dropped
        # (core.py:704-717 gates on func_name != "size").
        drop_unobserved = observed_only and mask is not None and func != "size"
        if drop_unobserved:
            exprs = list(exprs) + [self._agg_expr("size", "", mask).alias("__obs")]
        out = base.groupBy(*self._keys).agg(*exprs)
        if drop_unobserved:
            out = out.filter(F.col("__obs") > 0).drop("__obs")
        if not observed_only:
            out = self._complete_keys(out)
        return self._finish(out)

    def _with_margins(self, base: DataFrame, exprs: Sequence[Column],
                      margins=True) -> DataFrame:
        """grouping sets → "All" rows (reference add_row_margin
        core.py:1994-2051). Catalyst evaluates every requested grouping set
        in ONE pass — no recursive re-aggregation.

        margins=True → full cube: an "All" row for EVERY level and their
        combinations (reference add_row_margin with levels=None recurses over
        all index levels, core.py:1994-2051 — NOT a hierarchical rollup).
        margins=[key names] → cube filtered to combos collapsing only subsets
        of the given levels (the per-level selection, core.py:427-444)."""
        if margins is True:
            margins = list(self._keys)
        levels = [margins] if isinstance(margins, str) else list(margins)
        bad = [l for l in levels if l not in self._keys]
        if bad:
            raise ValueError(f"margin level(s) {bad} not in keys {self._keys}")
        grouped = base.cube(*self._keys)
        allowed = set(levels)
        gcols = [F.grouping(k).alias(f"__g_{k}") for k in self._keys]
        rolled = grouped.agg(*exprs, *gcols)
        if allowed is not None:
            # keep only combos whose collapsed keys ⊆ the requested levels
            cond = None
            for k in self._keys:
                if k not in allowed:
                    c = F.col(f"__g_{k}") == 0
                    cond = c if cond is None else cond & c
            if cond is not None:
                rolled = rolled.filter(cond)
        sel = []
        for k in self._keys:
            sel.append(
                F.when(F.col(f"__g_{k}") == 1, F.lit(_ALL_LABEL))
                .otherwise(F.col(k).cast("string"))
                .alias(k)
            )
        agg_names = [c for c in rolled.columns if c not in self._keys and not c.startswith("__g_")]
        sel += [F.col(c) for c in agg_names]
        return rolled.select(*sel)

    # ------------------------------------------------------------------ #
    # public aggregations (reference §2.2)
    # ------------------------------------------------------------------ #

    @_groupby_method
    def sum(self, values=None, **kw) -> DataFrame:
        return self._apply("sum", values, **kw)

    @_groupby_method
    def mean(self, values=None, **kw) -> DataFrame:
        return self._apply("mean", values, **kw)

    @_groupby_method
    def min(self, values=None, **kw) -> DataFrame:
        return self._apply("min", values, **kw)

    @_groupby_method
    def max(self, values=None, **kw) -> DataFrame:
        return self._apply("max", values, **kw)

    @_groupby_method
    def count(self, values=None, **kw) -> DataFrame:
        return self._apply("count", values, **kw)

    @_groupby_method
    def sem(self, values=None, **kw) -> DataFrame:
        """Standard error of the group mean — pandas ``GroupBy.sem``:
        ``std(ddof)/sqrt(count)`` over non-null values (any ddof, like
        var/std)."""
        return self._apply("sem", values, **kw)

    @_groupby_method
    def prod(self, values=None, **kw) -> DataFrame:
        """Product per group — pandas ``GroupBy.prod`` (min_count=0: the
        all-null group is the empty product, 1.0); booleans promote to
        0/1 like the other arithmetic aggregations."""
        return self._apply("prod", values, **kw)

    @_groupby_method
    def any(self, values=None, **kw) -> DataFrame:
        """True iff ANY value in the group is truthy (nonzero / true) —
        pandas ``GroupBy.any``: NULLs skipped, vacuous group = False."""
        return self._apply("any", values, **kw)

    @_groupby_method
    def all(self, values=None, **kw) -> DataFrame:
        """True iff EVERY value in the group is truthy — pandas
        ``GroupBy.all``: NULLs skipped, vacuous group = True."""
        return self._apply("all", values, **kw)

    @_groupby_method
    def skew(self, values=None, **kw) -> DataFrame:
        """Bias-corrected sample skewness per group — pandas
        ``GroupBy.skew`` (adjusted Fisher-Pearson G1): NULL when fewer
        than 3 non-null values, 0.0 for zero-variance groups."""
        return self._apply("skew", values, **kw)

    @_groupby_method
    def kurt(self, values=None, **kw) -> DataFrame:
        """Bias-corrected sample excess kurtosis per group — pandas
        ``GroupBy.kurt``/``kurtosis`` (G2): NULL when fewer than 4
        non-null values, 0.0 for zero-variance groups."""
        return self._apply("kurt", values, **kw)

    kurtosis = kurt

    @_groupby_method
    def size(self, mask=None, **kw) -> DataFrame:
        return self._apply("size", None, mask=mask, **kw)

    @_groupby_method
    def var(self, values=None, ddof: int = 1, **kw) -> DataFrame:
        return self._apply("var", values, ddof=ddof, **kw)

    @_groupby_method
    def std(self, values=None, ddof: int = 1, **kw) -> DataFrame:
        return self._apply("std", values, ddof=ddof, **kw)

    @_groupby_method
    def median(self, values=None, approx: bool = False, **kw) -> DataFrame:
        # exact by default (reference core.py:968-1016); approx=True switches
        # to percentile_approx for 100 TB runs where exact median would sort.
        return self._apply("approx_median" if approx else "median", values, **kw)

    @_groupby_method
    def sum_squares(self, values=None, **kw) -> DataFrame:
        return self._apply("sum_squares", values, **kw)

    @_groupby_method
    def first(self, values=None, **kw) -> DataFrame:
        return self._apply("first", values, **kw)

    @_groupby_method
    def last(self, values=None, **kw) -> DataFrame:
        return self._apply("last", values, **kw)

    @_groupby_method
    def nunique(self, values=None, approx: bool = False, **kw) -> DataFrame:
        # approx=True → HyperLogLog++ (approx_count_distinct): at 100 TB an
        # exact distinct per group is an extra shuffle of the value column;
        # the sketch is one pass, mergeable map-side.
        return self._apply("approx_nunique" if approx else "nunique", values, **kw)

    @_groupby_method
    def quantile(self, values=None, q: float | Sequence[float] = 0.5,
                 approx: bool = False, mask=None) -> DataFrame:
        """Per-group quantiles with SQL percentile_cont (linear
        interpolation) semantics — exact by default; ``approx=True`` uses
        the bounded-memory sketch for 100 TB runs. ``q`` may be a single
        fraction or a list; each (column, q) pair becomes a column named
        ``{col}_q{q}`` (dots → underscores, e.g. ``val_q0_25``).

        Beyond the reference (it stops at ``median``, core.py:968) — the
        natural extension of the same kernel family."""
        cols = self._numeric_values(values)
        qs = list(q) if isinstance(q, (list, tuple)) else [q]
        fn = "approx_quantile" if approx else "quantile"
        exprs = []
        for c in cols:
            for qq in qs:
                name = f"{c}_q{qq}".replace(".", "_")
                exprs.append(self._agg_expr(fn, c, mask, q=qq).alias(name))
        return self._finish(self._base().groupBy(*self._keys).agg(*exprs))

    @_groupby_method
    def ohlc(self, values=None, mask=None) -> DataFrame:
        """Open/high/low/close per group — pandas ``GroupBy.ohlc`` with
        the row order made explicit: open/close are the first/last
        NON-NULL values in ``order_by`` order (the ordered first/last
        machinery), high/low are max/min. One keyed agg pass; columns
        ``{col}_open/high/low/close``."""
        cols = self._numeric_values(values)
        exprs = []
        for c in cols:
            exprs += [
                self._ordered_first_last("first", c, mask).alias(f"{c}_open"),
                self._agg_expr("max", c, mask).alias(f"{c}_high"),
                self._agg_expr("min", c, mask).alias(f"{c}_low"),
                self._ordered_first_last("last", c, mask).alias(f"{c}_close"),
            ]
        return self._finish(self._base().groupBy(*self._keys).agg(*exprs))

    @_groupby_method
    def describe(self, values=None, mask=None,
                 percentiles: Sequence[float] = (0.25, 0.5, 0.75),
                 approx: bool = False) -> DataFrame:
        """Summary statistics per group — pandas ``GroupBy.describe``:
        count, mean, std, min, the requested percentiles, max, all in ONE
        keyed agg pass. Percentile columns are named ``{col}_q{p}`` (dots
        → underscores, the quantile() convention — Spark columns can't
        carry pandas' ``25%`` labels); ``approx=True`` switches the
        percentiles to the bounded-memory sketch for 100 TB runs."""
        cols = self._numeric_values(values)
        qfn = "approx_quantile" if approx else "quantile"
        exprs = []
        for c in cols:
            exprs += [
                self._agg_expr("count", c, mask).alias(f"{c}_count"),
                self._agg_expr("mean", c, mask).alias(f"{c}_mean"),
                self._agg_expr("std", c, mask).alias(f"{c}_std"),
                self._agg_expr("min", c, mask).alias(f"{c}_min"),
            ]
            for q in percentiles:
                name = f"{c}_q{q}".replace(".", "_")
                exprs.append(self._agg_expr(qfn, c, mask, q=q).alias(name))
            exprs.append(self._agg_expr("max", c, mask).alias(f"{c}_max"))
        return self._finish(self._base().groupBy(*self._keys).agg(*exprs))

    @_groupby_method
    def corr(self, x: str, y: str, mask=None, alias: str = "corr") -> DataFrame:
        """Per-group Pearson correlation of two columns (pairwise null /
        mask handling: a masked row drops out of both sides)."""
        e = self._agg_expr("corr", (x, y), mask).alias(alias)
        return self._finish(self._base().groupBy(*self._keys).agg(e))

    @_groupby_method
    def cov(self, x: str, y: str, mask=None, ddof: int = 1,
            alias: str = "cov") -> DataFrame:
        """Per-group covariance (``ddof`` 1 = sample, 0 = population)."""
        if ddof not in (0, 1):
            raise ValueError("cov supports ddof 0 or 1")
        e = self._agg_expr("cov" if ddof == 1 else "cov_pop",
                           (x, y), mask).alias(alias)
        return self._finish(self._base().groupBy(*self._keys).agg(e))

    @_groupby_method
    def mode(self, values, mask=None) -> DataFrame:
        """Most frequent value per group — DETERMINISTIC: ties break to the
        smallest value (Spark's native ``F.mode`` picks an arbitrary tie
        winner, which can differ run-to-run and engine-to-engine). NULLs are
        excluded, pandas-style.

        Shape: count per (keys, value) — one shuffle with map-side partial
        counts — then ``min_by`` over the (-count, value) struct: lexical
        minimization gives max count, then min value, in the SAME
        aggregation pass (no ranking window)."""
        cols = [values] if isinstance(values, str) else list(values)
        base = self._base()
        if mask is not None:
            base = base.filter(_col(mask))
        out = None
        for c in cols:
            cnt = (base.filter(F.col(c).isNotNull())
                   .groupBy(*self._keys, c)
                   .agg(F.count(F.lit(1)).alias("__cnt")))
            m = cnt.groupBy(*self._keys).agg(
                F.min_by(
                    F.col(c),
                    F.struct((-F.col("__cnt")).alias("n"), F.col(c).alias("v")),
                ).alias(f"{c}_mode"))
            out = m if out is None else out.join(m, list(self._keys), "full")
        return self._finish(out)

    # callable → builtin name, exactly the reference's `__name__` dispatch
    # (core.py:1210-1213). `np.mean.__name__ == "mean"` etc.; aliases cover
    # the common numpy/builtin spellings whose __name__ differs from ours.
    _FUNC_ALIASES = {
        "amin": "min", "amax": "max", "nanmin": "min", "nanmax": "max",
        "nansum": "sum", "nanmean": "mean", "nanmedian": "median",
        "nanvar": "var", "nanstd": "std", "average": "mean", "avg": "mean",
        "len": "size", "kurtosis": "kurt",
    }

    _KNOWN_FUNCS = frozenset(
        {"sum", "dsum", "dsum_scaled", "dsum_unscale", "mean", "min", "max",
         "count", "size", "sum_squares",
         "median", "approx_median", "var", "std", "nunique", "approx_nunique",
         "first", "last", "quantile", "approx_quantile", "corr", "cov",
         "cov_pop", "skew", "kurt"})

    @classmethod
    def _resolve_func(cls, func) -> str:
        if callable(func) and not isinstance(func, str):
            func = getattr(func, "__name__", None)
            if func is None:
                raise TypeError(
                    "callable aggregation must have a __name__ resolving to a "
                    "built-in (the engine never executes arbitrary Python "
                    "per group — use GroupBy.apply for that)")
        func = cls._FUNC_ALIASES.get(func, func)
        if func not in cls._KNOWN_FUNCS:
            raise ValueError(f"unknown aggregation {func!r}")
        return func

    @_groupby_method
    def agg(self, spec, mask=None, margins: bool = False,
            observed_only: bool = True) -> DataFrame:
        """Multiple aggregations in ONE pass (the reference fans funcs out
        across a thread pool, core.py:1216-1242; Catalyst computes them in a
        single HashAggregate).

        spec: {out_name: (func, col)} or {out_name: (func, col, kwargs)}
        or [(func, col), ...] or {col: func_or_list}.

        Any `func` may also be a callable: it is resolved by its `__name__`
        to the built-in of that name (reference core.py:1210-1213 — the
        reference does `agg_func.__name__` then `getattr(self, name)`, so
        `gb.agg(np.sum)` runs the native sum kernel, not the callable).
        """
        exprs: list[Column] = []

        def add(func, col: str, name: str, **kw):
            func = self._resolve_func(func)
            if func in ("first", "last"):
                e = self._ordered_first_last(func, col, mask)
            else:
                e = self._agg_expr(func, col, mask, **kw)
            exprs.append(e.alias(name))

        if isinstance(spec, Mapping):
            for k, v in spec.items():
                if isinstance(v, tuple) and len(v) == 3:  # (func, col, kwargs)
                    add(v[0], v[1], k, **v[2])
                elif isinstance(v, tuple):  # {out_name: (func, col)}
                    add(v[0], v[1], k)
                elif isinstance(v, str) or callable(v):  # {col: func}
                    fn = self._resolve_func(v)
                    add(fn, k, f"{k}_{fn}")
                else:  # {col: [funcs]}
                    for fn in v:
                        fn = self._resolve_func(fn)
                        add(fn, k, f"{k}_{fn}")
        else:
            for fn, col in spec:
                fn = self._resolve_func(fn)
                add(fn, col, f"{col}_{fn}")
        if margins:
            return self._finish(self._with_margins(self._base(), exprs, margins))
        drop_unobserved = observed_only and mask is not None
        if drop_unobserved:
            exprs.append(self._agg_expr("size", "", mask).alias("__obs"))
        out = self._base().groupBy(*self._keys).agg(*exprs)
        if drop_unobserved:
            out = out.filter(F.col("__obs") > 0).drop("__obs")
        if not observed_only:
            out = self._complete_keys(out)
        return self._finish(out)

    # ---- derived ratio-style aggregations (reference core.py:1248-1381) --- #

    def ratio(self, numerator: str, denominator: str, agg: str = "sum",
              mask=None, alias: str = "ratio") -> DataFrame:
        """agg(v1)/agg(v2) in one pass (reference core.py:1248-1294)."""
        num = self._agg_expr(agg, numerator, mask)
        den = self._agg_expr(agg, denominator, mask)
        out = self._base().groupBy(*self._keys).agg((num / den).alias(alias))
        return self._finish(out)

    def subset_ratio(self, values: str, subset_mask, mask=None,
                     agg: str = "sum", alias: str = "subset_ratio") -> DataFrame:
        """agg(v where subset)/agg(v) — one pass (reference core.py:1296-1330)."""
        sub = _col(subset_mask) if mask is None else (_col(subset_mask) & _col(mask))
        num = self._agg_expr(agg, values, sub)
        den = self._agg_expr(agg, values, mask)
        out = self._base().groupBy(*self._keys).agg((num / den).alias(alias))
        return self._finish(out)

    def density(self, values: str, mask=None, alias: str = "density") -> DataFrame:
        """100·group_total/overall_total; for multi-level keys the denominator
        is the level-0 slice total (reference core.py:1332-1381). Aggregate
        first, then a window over the (tiny) result — no second data pass."""
        agg = self._base().groupBy(*self._keys).agg(
            self._agg_expr("sum", values, mask).alias("__total"))
        if len(self._keys) > 1:
            w = Window.partitionBy(self._keys[0])
        else:
            w = Window.partitionBy()
        out = agg.select(
            *self._keys,
            (F.lit(100.0) * F.col("__total") / F.sum("__total").over(w)).alias(alias),
        )
        return self._finish(out)

    def value_counts(self, normalize: bool = False) -> DataFrame:
        """size per key, optionally normalized (reference core.py:2054-2059)."""
        out = self._base().groupBy(*self._keys).agg(F.count(F.lit(1)).alias("count"))
        if normalize:
            w = Window.partitionBy()
            out = out.select(
                *self._keys,
                (F.col("count") / F.sum("count").over(w)).alias("proportion"),
            )
        return out.orderBy(F.col("proportion" if normalize else "count").desc(), *self._keys)

    def key_count(self) -> DataFrame:
        """distinct key combinations (reference core.py:766-776)."""
        return self._base().select(*self._keys).distinct()

    def ngroup(self, ascending: bool = True) -> DataFrame:
        """Group number per row — pandas ``GroupBy.ngroup``: 0..ngroups−1
        in key sort order (``ascending=False`` reverses the labels;
        ``sort=False`` numbers groups by first appearance in ``order_by``
        order; null-key groups sort last under ``dropna=False``, and are
        dropped — pandas NaN — under the default ``dropna=True``).

        Scale shape: the numbering window runs over the DISTINCT key
        frame only (group-bounded — never the corpus; the single-task
        orderBy is over ngroups rows), then joins back on the keys — AQE
        broadcasts the group-sized side, so the corpus never shuffles."""
        keys = list(self._keys)
        base = self._base()
        if self._sort:
            frame = base.select(*keys).distinct()
            order = [F.col(k).asc_nulls_last() for k in keys]
        else:
            if not self._order_by:
                raise ValueError(
                    "ngroup on a sort=False GroupBy requires order_by "
                    "(first-appearance order is undefined on an unordered "
                    "distributed table)")
            frame = base.groupBy(*keys).agg(
                F.min(F.struct(*[F.col(o) for o in self._order_by]))
                .alias("__first"))
            order = [F.col("__first")]
        numbered = frame.withColumn(
            "__n", F.row_number().over(Window.orderBy(*order)) - 1)
        if not ascending:
            total = F.count(F.lit(1)).over(Window.partitionBy())
            numbered = numbered.withColumn("__n", total - 1 - F.col("__n"))
        ren = numbered.select(
            *[F.col(k).alias(f"__k{i}") for i, k in enumerate(keys)],
            F.col("__n").alias("ngroup"))
        cond = None
        for i, k in enumerate(keys):
            c = F.col(k).eqNullSafe(F.col(f"__k{i}"))
            cond = c if cond is None else cond & c
        return (base.join(ren, cond, "left")
                .drop(*[f"__k{i}" for i in range(len(keys))]))

    # ------------------------------------------------------------------ #
    # row selection within groups (reference §2.3)
    # ------------------------------------------------------------------ #

    def _rank_window(self, descending: bool = False) -> Window:
        if not self._order_by:
            raise ValueError("head/tail/nth require order_by")
        cols = [F.col(o).desc() if descending else F.col(o) for o in self._order_by]
        return Window.partitionBy(*self._keys).orderBy(*cols)

    def _salted_topn(self, n: int, salt: int, descending: bool) -> DataFrame:
        """Two-stage top-n for skewed keys: local top-n within (key, salt)
        buckets — the hot key's sort fans out over ``salt`` tasks — then the
        exact top-n among the surviving ≤ n·salt rows per key. The global
        top-n is always contained in the union of salted top-ns."""
        salt_col = F.pmod(F.xxhash64(*[F.col(o) for o in self._order_by]), F.lit(salt))
        cols = [F.col(o).desc() if descending else F.col(o) for o in self._order_by]
        local = (self._base().withColumn("__rn", F.row_number().over(
            Window.partitionBy(*self._keys, salt_col).orderBy(*cols)))
            .filter(F.col("__rn") <= n).drop("__rn"))
        return (local.withColumn("__rn", F.row_number().over(
            Window.partitionBy(*self._keys).orderBy(*cols)))
            .filter(F.col("__rn") <= n).drop("__rn"))

    def head(self, n: int = 5, values=None, salt: int | None = None) -> DataFrame:
        """first n rows per group (reference core.py:1428-1459).

        salt: for heavily skewed keys, pre-reduce within (key, salt-bucket)
        before the per-key ranking so no single task sorts a whole hot key."""
        cols = self._numeric_values(values) if values is not None else None
        if salt:
            out = self._salted_topn(n, salt, descending=False)
        else:
            df = self._base().withColumn("__rn", F.row_number().over(self._rank_window()))
            out = df.filter(F.col("__rn") <= n).drop("__rn")
        if cols is not None:
            out = out.select(*self._keys, *self._order_by, *cols)
        return out

    def tail(self, n: int = 5, values=None, salt: int | None = None) -> DataFrame:
        cols = self._numeric_values(values) if values is not None else None
        if salt:
            out = self._salted_topn(n, salt, descending=True)
        else:
            df = self._base().withColumn("__rn", F.row_number().over(self._rank_window(descending=True)))
            out = df.filter(F.col("__rn") <= n).drop("__rn")
        if cols is not None:
            out = out.select(*self._keys, *self._order_by, *cols)
        return out

    def rank(self, values=None, method: str = "average",
             ascending: bool = True, pct: bool = False) -> DataFrame:
        """Per-group value ranks — pandas ``GroupBy.rank``: methods
        ``average``/``min``/``max``/``first``/``dense``; NULL values keep
        NULL ranks (pandas ``na_option='keep'``) and don't count toward
        ``pct`` denominators. ``first`` breaks ties by ``order_by``
        position (required for it — appearance order is undefined on an
        unordered distributed table). Output ``{col}_rank``.

        All methods are single-window compositions (rank/dense_rank/
        row_number; average/max add the tie count from a per-value
        partition count) — one keyed sort, no join, codegen throughout."""
        if method not in ("average", "min", "max", "first", "dense"):
            raise ValueError(f"unknown rank method {method!r}")
        cols = self._numeric_values(values)
        out = self._base()
        for c in cols:
            v = F.col(c)
            order = v.asc_nulls_last() if ascending else v.desc_nulls_last()
            w = Window.partitionBy(*self._keys).orderBy(order)
            if method == "first":
                if not self._order_by:
                    raise ValueError("rank(method='first') requires order_by")
                tie = [F.col(o) for o in self._order_by]
                r = F.row_number().over(
                    Window.partitionBy(*self._keys).orderBy(order, *tie))
            elif method == "dense":
                r = F.dense_rank().over(w)
            elif method == "min":
                r = F.rank().over(w)
            else:
                ties = F.count(v).over(Window.partitionBy(*self._keys, v))
                if method == "max":
                    r = F.rank().over(w) + ties - 1
                else:  # average
                    r = F.rank().over(w) + (ties - 1) / 2
            r = F.when(v.isNotNull(), r.cast("double"))
            if pct:
                if method == "dense":
                    # pandas divides dense ranks by the DISTINCT value
                    # count; windows can't count-distinct, but
                    # dense_asc + dense_desc − 1 == n_distinct at every
                    # non-null row (same single exchange)
                    rev = (v.desc_nulls_last() if ascending
                           else v.asc_nulls_last())
                    nd = (F.dense_rank().over(w)
                          + F.dense_rank().over(
                              Window.partitionBy(*self._keys).orderBy(rev))
                          - 1)
                    r = r / nd
                else:
                    nn = F.count(v).over(Window.partitionBy(*self._keys))
                    r = r / nn
            out = out.withColumn(f"{c}_rank", r)
        return out

    def take(self, positions: Sequence[int], values=None) -> DataFrame:
        """Rows at the given 0-based in-group positions, in ``order_by``
        order — pandas ``GroupBy.take``. Negative positions count from
        the end; out-of-range positions drop out (pandas raises — the
        distributed engine follows nth's out-of-bounds-drop convention).
        One ranking window (forward + backward only if needed)."""
        pos = list(positions)
        cols = self._numeric_values(values) if values is not None else None
        df = self._base()
        fwd = sorted({p + 1 for p in pos if p >= 0})
        bwd = sorted({-p for p in pos if p < 0})
        conds = []
        if fwd:
            df = df.withColumn("__rn", F.row_number().over(self._rank_window()))
            conds.append(F.col("__rn").isin(fwd))
        if bwd:
            df = df.withColumn("__rb", F.row_number().over(
                self._rank_window(descending=True)))
            conds.append(F.col("__rb").isin(bwd))
        cond = conds[0]
        for c in conds[1:]:
            cond = cond | c
        out = df.filter(cond).drop("__rn", "__rb")
        if cols is not None:
            out = out.select(*self._keys, *self._order_by, *cols)
        return out

    def corrwith(self, target: str, values=None, mask=None) -> DataFrame:
        """Pearson correlation of each value column with ``target`` per
        group — pandas ``DataFrameGroupBy.corrwith`` (Series other): one
        multi-column keyed agg pass (a corr expression per column, pairwise
        null/mask drops like :meth:`corr`). Output ``{col}_corr``."""
        cols = [c for c in self._numeric_values(values) if c != target]
        exprs = [self._agg_expr("corr", (c, target), mask).alias(f"{c}_corr")
                 for c in cols]
        return self._finish(self._base().groupBy(*self._keys).agg(*exprs))

    def nlargest(self, n: int, column: str, salt: int | None = None) -> DataFrame:
        """Rows holding the ``n`` largest values of ``column`` per group —
        pandas ``SeriesGroupBy.nlargest`` with the whole row kept. NULLs
        are excluded (pandas drops NaN); ties resolve to the earliest
        ``order_by`` position when one is set (pandas ``keep='first'``),
        else ties are broken by the value ordering alone.

        ``salt``: two-stage top-n for skewed keys, same contract as
        :meth:`head` — local top-n within (key, salt-bucket) so no single
        task sorts a whole hot key, then the exact top-n of the ≤ n·salt
        survivors."""
        return self._topn_value(n, column, descending=True, salt=salt)

    def nsmallest(self, n: int, column: str, salt: int | None = None) -> DataFrame:
        """Rows holding the ``n`` smallest values per group — the mirror
        of :meth:`nlargest`."""
        return self._topn_value(n, column, descending=False, salt=salt)

    def _topn_value(self, n: int, column: str, descending: bool,
                    salt: int | None) -> DataFrame:
        if column not in self._df.columns:
            raise ValueError(f"column {column!r} not in DataFrame")
        vc = (F.col(column).desc_nulls_last() if descending
              else F.col(column).asc_nulls_last())
        tie = [F.col(o) for o in self._order_by] if self._order_by else []
        order = [vc, *tie]
        base = self._base().filter(F.col(column).isNotNull())
        if salt:
            salt_col = F.pmod(F.xxhash64(F.col(column), *tie), F.lit(salt))
            base = (base.withColumn("__rn", F.row_number().over(
                Window.partitionBy(*self._keys, salt_col).orderBy(*order)))
                .filter(F.col("__rn") <= n).drop("__rn"))
        return (base.withColumn("__rn", F.row_number().over(
            Window.partitionBy(*self._keys).orderBy(*order)))
            .filter(F.col("__rn") <= n).drop("__rn"))

    def find_first_n(self, row_id: str, n: int, mask=None) -> DataFrame:
        """(keys..., row_ids: array) — ids of the first ``n`` rows per group
        in ``order_by`` order, after ``mask`` filtering (reference
        find_first_n, numba.py:229-254, returns an (ngroups, n) positional
        index matrix; the distributed analog keys the matrix rows and
        carries an explicit row-id column instead of positions)."""
        return self._find_n(row_id, n, mask, descending=False)

    def find_last_n(self, row_id: str, n: int, mask=None) -> DataFrame:
        """Last ``n`` row ids per group, emitted in ascending row order
        (reference find_last_n, numba.py:257-282)."""
        return self._find_n(row_id, n, mask, descending=True)

    def _find_n(self, row_id: str, n: int, mask, descending: bool) -> DataFrame:
        base = self._base()
        if mask is not None:
            base = base.filter(_col(mask))
        ranked = base.withColumn(
            "__rn", F.row_number().over(self._rank_window(descending=descending)))
        picked = ranked.filter(F.col("__rn") <= n)
        ids = F.transform(
            F.array_sort(F.collect_list(F.struct(
                F.col("__rn"), F.col(row_id).alias("__id")))),
            lambda s: s["__id"],
        )
        if descending:  # last-n selected in reverse rank; emit ascending
            ids = F.reverse(ids)
        return self._finish(picked.groupBy(*self._keys).agg(ids.alias("row_ids")))

    def nth(self, n: int, values=None) -> DataFrame:
        """n-th row per group; negative = from the end; out-of-bounds rows
        drop out (reference core.py:1493-1518)."""
        cols = self._numeric_values(values) if values is not None else None
        if n >= 0:
            df = self._base().withColumn("__rn", F.row_number().over(self._rank_window()))
            out = df.filter(F.col("__rn") == n + 1).drop("__rn")
        else:
            df = self._base().withColumn("__rn", F.row_number().over(self._rank_window(descending=True)))
            out = df.filter(F.col("__rn") == -n).drop("__rn")
        if cols is not None:
            out = out.select(*self._keys, *self._order_by, *cols)
        return out

    # ------------------------------------------------------------------ #
    # cumulative operators (reference §2.4)
    # ------------------------------------------------------------------ #

    def _cum_window(self):
        if not self._order_by:
            raise ValueError("cumulative operators require order_by")
        return (
            Window.partitionBy(*self._keys)
            .orderBy(*self._order_by)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )

    def _cum(self, func: str, values, mask, skip_na: bool, alias_suffix: str) -> DataFrame:
        cols = self._numeric_values(values)
        w = self._cum_window()
        out = self._base()
        for c in cols:
            v = self._masked(c, mask)
            if func == "cumsum":
                e = F.sum(v).over(w)
            elif func == "cummin":
                e = F.min(v).over(w)
            elif func == "cummax":
                e = F.max(v).over(w)
            elif func == "cumprod":
                e = F.product(v).over(w)
            else:
                raise ValueError(func)
            if not skip_na:
                # propagate null once seen (reference ScalarFuncs non-nan
                # variants, numba.py:290-296): null out from the first null on.
                seen_null = F.max(_col(c).isNull().cast("int")).over(w)
                e = F.when(seen_null == 1, F.lit(None)).otherwise(e)
            out = out.withColumn(f"{c}_{alias_suffix}", e)
        return out

    def cumsum(self, values=None, mask=None, skip_na: bool = True) -> DataFrame:
        """masked rows pass through the accumulator (emit the running value,
        don't contribute) — reference numba.py:1663-1667 semantics, which
        ``sum(CASE WHEN mask THEN x END) OVER cumframe`` reproduces exactly."""
        return self._cum("cumsum", values, mask, skip_na, "cumsum")

    def cummin(self, values=None, mask=None, skip_na: bool = True) -> DataFrame:
        return self._cum("cummin", values, mask, skip_na, "cummin")

    def cummax(self, values=None, mask=None, skip_na: bool = True) -> DataFrame:
        return self._cum("cummax", values, mask, skip_na, "cummax")

    def cumprod(self, values=None, mask=None, skip_na: bool = True) -> DataFrame:
        """Running product per group (pandas GroupBy.cumprod — parity
        extra; the reference's cumulative kernels stop at sum/min/max).
        Float caution: a windowed product is evaluated in frame order by
        both this engine and the SQL twins, but products magnify rounding
        faster than sums — for exact cross-engine checks keep factors
        near 1 or use log-space (cumsum of log)."""
        return self._cum("cumprod", values, mask, skip_na, "cumprod")

    def cumcount(self, mask=None) -> DataFrame:
        """0-based running count per group (reference core.py:1711-1731)."""
        w = self._cum_window()
        e = F.count(F.when(_col(mask), F.lit(1)) if mask is not None else F.lit(1)).over(w) - 1
        return self._base().withColumn("cumcount", e)

    # ------------------------------------------------------------------ #
    # rolling-window operators (reference §2.5)
    # ------------------------------------------------------------------ #

    _ROLLING_AGGS = {"sum": F.sum, "mean": F.avg, "min": F.min, "max": F.max,
                     "var": F.var_samp, "std": F.stddev_samp}

    @staticmethod
    def _window_stat(func: str, v: Column, w, decimal_input: bool) -> Column:
        """Windowed stat expression. For DECIMAL inputs the arithmetic funcs
        are computed from exact windowed sums (sum / sum-of-squares / count)
        with the division done in double AFTER casting the exact sums — the
        deterministic shape a SQL oracle can reproduce bit-for-bit (exact
        sums are association-order-independent, so the engine's window and
        the oracle's window agree exactly; the final double expressions are
        identical IEEE operations on identical inputs). Doubles keep the
        native aggregates (the r8 driver-hash lesson: see functions/ordered
        `_sum_zero`)."""
        if func.startswith("quantile:"):
            # exact windowed quantile with LINEAR interpolation — the
            # pandas rolling().quantile(interpolation='linear') and
            # DuckDB quantile_cont convention. Computed in double (the
            # interpolation is float arithmetic regardless of input
            # type); O(window log window) per row via the window
            # aggregate buffer — the window form only, no prefix
            # decomposition exists for order statistics.
            q = float(func.split(":", 1)[1])
            return F.percentile(v.cast("double"), F.lit(q)).over(w)
        if not decimal_input or func not in ("sum", "mean", "var", "std"):
            return GroupBy._ROLLING_AGGS[func](v).over(w)
        C = F.sum(v).over(w)
        if func == "sum":
            return C
        n = F.count(v).over(w)
        cd = C.cast("double")
        if func == "mean":
            return cd / n
        num = F.greatest(F.sum(v * v).over(w).cast("double") - cd * cd / n,
                         F.lit(0.0))
        val = F.when(n > F.lit(1), num / (n - F.lit(1)))
        return F.sqrt(val) if func == "std" else val

    def _rolling(self, func: str, values, window: int, mask, min_periods: int | None,
                 alias_suffix: str) -> DataFrame:
        """Fixed row-count trailing window per group. min_periods counts
        NON-NULL values in the window (reference numba.py:1240-1244); default
        min_periods = window.

        Mask semantics follow the reference's circular-buffer kernel
        (numba.py:1196-1246): masked-out rows are EXCLUDED from the window —
        the frame spans the last ``window`` unmasked observations — while
        every row still emits output (the rolling value as of the most recent
        observation at or before it)."""
        if not self._order_by:
            raise ValueError("rolling operators require order_by")
        if min_periods is None:
            min_periods = 1 if window is None else window
        cols = self._numeric_values(values)
        if (self._ROLLING_AGGS.get(func) is None
                and not func.startswith("quantile:")):
            raise ValueError(func)

        # window=None = the expanding (unbounded-preceding) frame
        lo = Window.unboundedPreceding if window is None else -(window - 1)
        if mask is None:
            w = (
                Window.partitionBy(*self._keys)
                .orderBy(*self._order_by)
                .rowsBetween(lo, Window.currentRow)
            )
            out = self._base()
            for c in cols:
                v = F.col(c)
                dec = isinstance(out.schema[c].dataType, T.DecimalType)
                guard = F.count(v).over(w) >= min_periods
                out = out.withColumn(
                    f"{c}_{alias_suffix}",
                    F.when(guard, self._window_stat(func, v, w, dec)))
            return out
        return self._rolling_masked(func, cols, window, mask, min_periods, alias_suffix)

    def _rolling_masked(self, func, cols, window: int, mask, min_periods: int,
                        alias_suffix: str) -> DataFrame:
        """Window over unmasked observations only, joined back to all rows.

        Scale shape: (1) standard bounded window over the FILTERED rows —
        shuffle by keys, sort by order; (2) equi-join back on
        (keys, observation index) — same hash distribution, so with AQE the
        exchange is reused. No per-row Python, no cartesian work."""
        base = self._base()
        mask_col = _col(mask)
        cum = (
            Window.partitionBy(*self._keys)
            .orderBy(*self._order_by)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        # index of the most recent unmasked observation at or before each row
        with_idx = base.withColumn(
            "__obs_idx", F.count(F.when(mask_col, F.lit(1))).over(cum))

        obs = with_idx.filter(mask_col)
        ow = (
            Window.partitionBy(*self._keys)
            .orderBy(*self._order_by)
            .rowsBetween(
                Window.unboundedPreceding if window is None else -(window - 1),
                Window.currentRow)
        )
        obs_aggs = obs.select(
            *self._keys,
            F.col("__obs_idx"),
            *[
                F.when(F.count(F.col(c)).over(ow) >= min_periods,
                       self._window_stat(
                           func, F.col(c), ow,
                           isinstance(obs.schema[c].dataType, T.DecimalType))
                       ).alias(f"__roll_{c}")
                for c in cols
            ],
        )
        joined = with_idx.join(obs_aggs, on=[*self._keys, "__obs_idx"], how="left")
        for c in cols:
            joined = joined.withColumn(f"{c}_{alias_suffix}", F.col(f"__roll_{c}"))
        return joined.drop("__obs_idx", *[f"__roll_{c}" for c in cols])

    def rolling_sum(self, values=None, window: int = 2, mask=None,
                    min_periods: int | None = None) -> DataFrame:
        return self._rolling("sum", values, window, mask, min_periods, "rolling_sum")

    def rolling_mean(self, values=None, window: int = 2, mask=None,
                     min_periods: int | None = None) -> DataFrame:
        return self._rolling("mean", values, window, mask, min_periods, "rolling_mean")

    def rolling_min(self, values=None, window: int = 2, mask=None,
                    min_periods: int | None = None) -> DataFrame:
        return self._rolling("min", values, window, mask, min_periods, "rolling_min")

    def rolling_var(self, values=None, window: int = 2, mask=None,
                    min_periods: int | None = None) -> DataFrame:
        """Trailing-window sample variance (ddof=1; beyond the reference's
        sum/mean/min/max rolling kernels — same window/mask machinery)."""
        return self._rolling("var", values, window, mask, min_periods, "rolling_var")

    def rolling_std(self, values=None, window: int = 2, mask=None,
                    min_periods: int | None = None) -> DataFrame:
        return self._rolling("std", values, window, mask, min_periods, "rolling_std")

    def rolling_median(self, values=None, window: int = 2, mask=None,
                       min_periods: int | None = None) -> DataFrame:
        """Trailing-window exact median (linear interpolation at even
        counts — the pandas/DuckDB continuous convention; beyond the
        reference's rolling kernels, same window/mask machinery)."""
        return self._rolling("quantile:0.5", values, window, mask,
                             min_periods, "rolling_median")

    def rolling_quantile(self, q: float, values=None, window: int = 2,
                         mask=None,
                         min_periods: int | None = None) -> DataFrame:
        """Trailing-window exact quantile with linear interpolation
        (pandas rolling().quantile analog). No prefix decomposition
        exists for order statistics, so this is the window form only:
        cost is O(window log window) per row inside each group's
        window buffer — fine for the bounded windows rolling is for."""
        if not 0.0 <= float(q) <= 1.0:
            raise ValueError("q must be in [0, 1]")
        return self._rolling(f"quantile:{float(q)}", values, window, mask,
                             min_periods, "rolling_quantile")

    def _rolling_pair(self, stat: str, x: str, y: str, window: int | None,
                      mask, min_periods: int | None,
                      alias_suffix: str) -> DataFrame:
        """Trailing-window PAIRWISE stat (cov/corr) over two columns —
        pandas ``rolling().cov()/.corr()`` semantics: the window's
        PAIRWISE-COMPLETE rows (both values non-null) define n and every
        sum; ddof=1 for cov (and it cancels out of corr). All JVM window
        aggregates — the stat decomposes into windowed sums (n, Σx, Σy,
        Σxy[, Σx², Σy²]) with the float arithmetic done once on top, the
        same closed shape the SQL oracle reproduces. ``min_periods``
        counts pairwise-complete observations (default = window, floor 2
        — one pair has no sample covariance); zero-variance windows give
        NULL corr (pandas emits NaN there; this engine ships NULL for
        undefined, its NaN/NULL convention). Mask follows the rolling
        contract: masked rows are excluded observations, every row still
        emits (same filtered-window + AQE-reused join-back as
        :meth:`_rolling_masked`)."""
        if not self._order_by:
            raise ValueError("rolling operators require order_by")
        if min_periods is None:
            min_periods = 2 if window is None else window

        def pair_expr(frame_w, anchor_w) -> Column:
            xc, yc = F.col(x).cast("double"), F.col(y).cast("double")
            both = xc.isNotNull() & yc.isNotNull()
            # r15 numerical robustness: cov/corr are shift-invariant, so
            # subtract a per-GROUP anchor (min over pair-complete rows —
            # order-insensitive, same value the scale twin and the SQL
            # oracle compute) before the windowed sums. Without it the
            # Σxy − ΣxΣy/n cancellation loses ~2·log2(offset/spread)
            # bits: values 1e12 + O(1) noise returned pure garbage
            # (measured rel err ~1e38). Anchored, the sums are spread-
            # sized and the error is ulp-scale again. Dyadic gate
            # fixtures stay exact: anchored dyadics are still dyadic.
            ax = F.min(F.when(both, xc)).over(anchor_w)
            ay = F.min(F.when(both, yc)).over(anchor_w)
            px = F.when(both, xc - ax)
            py = F.when(both, yc - ay)
            n = F.count(F.when(both, F.lit(1))).over(frame_w)
            nn = n.cast("double")
            sx = F.sum(px).over(frame_w)
            sy = F.sum(py).over(frame_w)
            sxy = F.sum(px * py).over(frame_w)
            num = sxy - sx * sy / nn
            guard = n >= F.greatest(F.lit(min_periods), F.lit(2))
            if stat == "cov":
                return F.when(guard, num / (nn - F.lit(1.0)))
            vx = F.sum(px * px).over(frame_w) - sx * sx / nn
            vy = F.sum(py * py).over(frame_w) - sy * sy / nn
            return F.when(guard & (vx > 0) & (vy > 0),
                          num / F.sqrt(vx * vy))

        out_col = f"{x}_{y}_{alias_suffix}"
        lo = (Window.unboundedPreceding if window is None
              else -(window - 1))
        aw = Window.partitionBy(*self._keys)
        if mask is None:
            w = (Window.partitionBy(*self._keys)
                 .orderBy(*self._order_by)
                 .rowsBetween(lo, Window.currentRow))
            return self._base().withColumn(out_col, pair_expr(w, aw))
        base = self._base()
        mask_col = _col(mask)
        cum = (Window.partitionBy(*self._keys)
               .orderBy(*self._order_by)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        with_idx = base.withColumn(
            "__obs_idx", F.count(F.when(mask_col, F.lit(1))).over(cum))
        ow = (Window.partitionBy(*self._keys)
              .orderBy(*self._order_by)
              .rowsBetween(lo, Window.currentRow))
        obs_aggs = (with_idx.filter(mask_col)
                    .select(*self._keys, "__obs_idx",
                            pair_expr(ow, aw).alias("__roll_pair")))
        return (with_idx.join(obs_aggs, on=[*self._keys, "__obs_idx"],
                              how="left")
                .withColumn(out_col, F.col("__roll_pair"))
                .drop("__obs_idx", "__roll_pair"))

    def rolling_cov(self, x: str, y: str, window: int = 2, mask=None,
                    min_periods: int | None = None) -> DataFrame:
        """Trailing-window sample covariance of two columns (ddof=1,
        pairwise-complete — pandas ``rolling().cov`` analog; beyond the
        reference's rolling kernels, same window/mask machinery).
        Output ``{x}_{y}_rolling_cov``."""
        return self._rolling_pair("cov", x, y, window, mask, min_periods,
                                  "rolling_cov")

    def rolling_corr(self, x: str, y: str, window: int = 2, mask=None,
                     min_periods: int | None = None) -> DataFrame:
        """Trailing-window Pearson correlation of two columns
        (pairwise-complete — pandas ``rolling().corr`` analog; NULL
        where either variance is 0). Output ``{x}_{y}_rolling_corr``."""
        return self._rolling_pair("corr", x, y, window, mask, min_periods,
                                  "rolling_corr")

    def rolling_max(self, values=None, window: int = 2, mask=None,
                    min_periods: int | None = None) -> DataFrame:
        return self._rolling("max", values, window, mask, min_periods, "rolling_max")

    def rolling_time(self, values=None, *, on: str, window,
                     funcs=("sum",), min_periods: int = 1) -> DataFrame:
        """Time-based trailing window (beyond the reference's row-count
        rolling kernels; the pandas ``rolling('30min', on=...)`` analog):
        aggregate rows of the same group whose ``on`` value lies within
        ``[current - window, current]`` — the SQL
        ``RANGE BETWEEN window PRECEDING AND CURRENT ROW`` frame, closed on
        both ends, including ALL peer rows that share the current ``on``
        value (standard SQL range-frame semantics, identical in any engine).

        ``on`` must be numeric (epoch seconds/micros etc. — cast timestamps
        first) and ``window`` is in the same units. ``funcs`` draws from
        sum/mean/min/max/var/std plus ``count``; ``min_periods`` counts
        non-null values in the frame. Output columns ``{col}_t{func}``.

        Scale shape: one hash exchange on the group keys + per-partition
        sort — the same single shuffle as every windowed operator; range
        frames are evaluated streaming per partition, state bounded by the
        widest frame.
        """
        if min_periods < 1:
            raise ValueError("min_periods must be >= 1")
        cols = self._numeric_values(values)
        w = (Window.partitionBy(*self._keys)
             .orderBy(F.col(on).asc())
             .rangeBetween(-window, Window.currentRow))
        out = self._base()
        for func in funcs:
            if func == "count":
                # guarded like every other stat: pandas rolling().count()
                # is NaN below min_periods (r10 ADVICE fix)
                for c in cols:
                    cnt = F.count(F.col(c)).over(w)
                    out = out.withColumn(
                        f"{c}_tcount",
                        F.when(cnt >= min_periods, cnt))
                continue
            agg = self._ROLLING_AGGS.get(func)
            if agg is None:
                raise ValueError(func)
            for c in cols:
                v = F.col(c)
                guard = F.count(v).over(w) >= min_periods
                out = out.withColumn(f"{c}_t{func}",
                                     F.when(guard, agg(v).over(w)))
        return out

    _FREQ_UNITS = {
        "s": "seconds", "sec": "seconds", "second": "seconds",
        "min": "minutes", "t": "minutes", "minute": "minutes",
        "h": "hours", "hr": "hours", "hour": "hours",
        "d": "days", "day": "days", "w": "weeks", "week": "weeks",
    }

    def resample(self, on: str, freq: str) -> "GroupBy":
        """Tumbling time-bucket regroup — the pandas ``GroupBy.resample``
        analog with the time column explicit: adds a bucket key (the
        window START, epoch-aligned) named ``{on}_bucket`` and returns a
        NEW GroupBy over (keys..., bucket), so every aggregation /
        transform / margin in the family applies per bucket.

        ``freq`` accepts pandas-style aliases (``'15min'``, ``'1h'``,
        ``'1d'``) or Spark duration strings (``'15 minutes'``). The
        bucket is a pure per-row expression — no shuffle happens until
        the aggregation the caller runs next, which shuffles once on
        (keys, bucket) exactly like any keyed agg. Empty buckets are
        absent (observed-only; pandas emits them — use
        ``observed_only=False``-style completion downstream if needed)."""
        m = re.fullmatch(r"(\d+)\s*([A-Za-z]+)", freq.strip())
        if not m:
            raise ValueError(f"unparseable freq {freq!r}")
        qty, unit = m.group(1), m.group(2).lower()
        unit = self._FREQ_UNITS.get(unit, self._FREQ_UNITS.get(
            unit.rstrip("s"), unit))
        dur = f"{qty} {unit}"
        name = f"{on}_bucket"
        df2 = self._df.withColumn(name, F.window(F.col(on), dur)["start"])
        return GroupBy(df2, [*self._keys, name], order_by=self._order_by,
                       sort=self._sort, dropna=self._dropna)

    def shift(self, values=None, window: int = 1, mask=None) -> DataFrame:
        """lag by `window` rows within group (reference core.py:1789-1838).

        With ``mask``: the lag runs over UNMASKED observations only, and
        masked rows emit NULL (reference _rolling_shift_or_diff_1d,
        numba.py:1534-1583 — masked rows `continue` before any output write
        and never enter the circular buffer)."""
        if not self._order_by:
            raise ValueError("shift requires order_by")
        cols = self._numeric_values(values)
        if mask is not None:
            return self._shift_masked(cols, window, mask, diff=False)
        w = Window.partitionBy(*self._keys).orderBy(*self._order_by)
        out = self._base()
        for c in cols:
            out = out.withColumn(f"{c}_shift", F.lag(c, window).over(w))
        return out

    def diff(self, values=None, window: int = 1, mask=None) -> DataFrame:
        """x − lag(x, window) within group (reference core.py:1840-1889).
        ``mask`` follows the same observation-only semantics as shift."""
        if not self._order_by:
            raise ValueError("diff requires order_by")
        cols = self._numeric_values(values)
        if mask is not None:
            return self._shift_masked(cols, window, mask, diff=True)
        w = Window.partitionBy(*self._keys).orderBy(*self._order_by)
        out = self._base()
        for c in cols:
            out = out.withColumn(f"{c}_diff", F.col(c) - F.lag(c, window).over(w))
        return out

    def pct_change(self, values=None, window: int = 1, mask=None) -> DataFrame:
        """Fractional change vs the ``window``-th previous in-group row:
        ``(x − lag)/lag`` — pandas ``GroupBy.pct_change`` (parity extra
        beyond the reference, composed from the shift machinery, so the
        masked path inherits shift's observation-only semantics). First
        ``window`` rows per group (no lag) emit NULL, like pandas."""
        cols = self._numeric_values(values)
        out = self.shift(values, window=window, mask=mask)
        for c in cols:
            out = out.withColumn(
                f"{c}_pct_change",
                (F.col(c) - F.col(f"{c}_shift")) / F.col(f"{c}_shift"))
        return out.drop(*[f"{c}_shift" for c in cols])

    def ffill(self, values=None, limit: int | None = None, mask=None) -> DataFrame:
        """Per-group forward fill in ``order_by`` order — pandas
        ``GroupBy.ffill``: each NULL takes the most recent non-null value
        in its group, at most ``limit`` rows back (``limit=None`` =
        unbounded). ``mask`` restricts which rows count as observations
        (masked-out rows neither donate nor receive fills — they pass
        through unchanged, the shift family's convention).

        One running window per column (``last(..., ignorenulls=True)``
        over rows UNBOUNDED PRECEDING..CURRENT) — no join, no extra
        shuffle beyond the keyed sort every ordered operator pays."""
        return self._fill(values, limit, mask, backward=False)

    def bfill(self, values=None, limit: int | None = None, mask=None) -> DataFrame:
        """Per-group backward fill (pandas ``GroupBy.bfill``): the mirror
        of :meth:`ffill` — the next non-null value in ``order_by`` order,
        at most ``limit`` rows ahead."""
        return self._fill(values, limit, mask, backward=True)

    def _fill(self, values, limit, mask, backward: bool) -> DataFrame:
        if not self._order_by:
            raise ValueError("ffill/bfill require order_by")
        if limit is not None and limit < 1:
            raise ValueError("limit must be >= 1")
        cols = self._numeric_values(values)
        suffix = "bfill" if backward else "ffill"
        order = [F.col(o).desc() if backward else F.col(o)
                 for o in self._order_by]
        w = (Window.partitionBy(*self._keys).orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        out = self._base()
        need_rn = limit is not None
        if need_rn:
            out = out.withColumn(
                "__rn", F.row_number().over(
                    Window.partitionBy(*self._keys).orderBy(*order)))
        for c in cols:
            v = self._masked(c, mask)
            filled = F.last(v, ignorenulls=True).over(w)
            if need_rn:
                # distance to the donor row: position of the last non-null
                # observation in the same running window
                donor = F.max(F.when(v.isNotNull(), F.col("__rn"))).over(w)
                filled = F.when(F.col("__rn") - donor <= limit, filled)
            e = F.when(v.isNotNull(), F.col(c)).otherwise(filled)
            if mask is not None:
                # masked-out rows pass through untouched
                e = F.when(_col(mask), e).otherwise(F.col(c))
            out = out.withColumn(f"{c}_{suffix}", e)
        return out.drop("__rn") if need_rn else out

    def idxmax(self, values=None, id_col: str | None = None) -> DataFrame:
        """Per group, the ``id_col`` value of the row holding the maximum
        of each value column — pandas ``GroupBy.idxmax`` with the index
        made explicit (a Spark frame has no index; pass the row-identity
        column). Ties resolve to the MINIMUM id (pandas' first
        occurrence under an ascending index); NULL values are skipped,
        all-NULL groups yield NULL (pandas skipna). One lexicographic
        struct aggregate per value column — a single keyed agg pass, no
        window, no join; ``id_col`` must be numeric (the tie-break
        negates it to turn min-id into a struct max)."""
        cols = self._numeric_values(values)
        if not id_col:
            raise ValueError("idxmax requires id_col (a Spark frame has "
                             "no implicit index)")
        idc = F.col(id_col)
        aggs = []
        for c in cols:
            vc = F.col(c)
            picked = F.max(F.when(vc.isNotNull(), F.struct(
                vc.alias("v"), (-idc).alias("ni"))))
            aggs.append((-picked["ni"]).alias(f"{c}_idxmax"))
        out = self._base().groupBy(*self._keys).agg(*aggs)
        return self._finish(out)

    def idxmin(self, values=None, id_col: str | None = None) -> DataFrame:
        """Per group, the ``id_col`` of each value column's MINIMUM row
        (ties → minimum id; NULLs skipped) — see :meth:`idxmax`. The
        lexicographic struct min needs no negation, so ``id_col`` may be
        any orderable type here."""
        cols = self._numeric_values(values)
        if not id_col:
            raise ValueError("idxmin requires id_col (a Spark frame has "
                             "no implicit index)")
        idc = F.col(id_col)
        aggs = []
        for c in cols:
            vc = F.col(c)
            picked = F.min(F.when(vc.isNotNull(), F.struct(
                vc.alias("v"), idc.alias("i"))))
            aggs.append(picked["i"].alias(f"{c}_idxmin"))
        out = self._base().groupBy(*self._keys).agg(*aggs)
        return self._finish(out)

    def _shift_masked(self, cols, window: int, mask, diff: bool) -> DataFrame:
        """Masked shift/diff via the same obs-index machinery as
        ``_rolling_masked``: lag over the FILTERED (unmasked) rows, equi-join
        back on (keys, observation index), NULL at masked rows. Both sides
        hash-distribute on the keys, so AQE reuses the exchange."""
        suffix = "diff" if diff else "shift"
        base = self._base()
        mask_col = _col(mask)
        cum = (
            Window.partitionBy(*self._keys)
            .orderBy(*self._order_by)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        with_idx = base.withColumn("__m", mask_col).withColumn(
            "__obs_idx", F.count(F.when(F.col("__m"), F.lit(1))).over(cum))
        w = Window.partitionBy(*self._keys).orderBy(*self._order_by)
        obs_sh = with_idx.filter(F.col("__m")).select(
            *self._keys,
            F.col("__obs_idx"),
            *[F.lag(c, window).over(w).alias(f"__sh_{c}") for c in cols],
        )
        joined = with_idx.join(obs_sh, on=[*self._keys, "__obs_idx"], how="left")
        for c in cols:
            lagged = F.col(f"__sh_{c}")
            val = (F.col(c) - lagged) if diff else lagged
            joined = joined.withColumn(f"{c}_{suffix}", F.when(F.col("__m"), val))
        return joined.drop("__obs_idx", "__m", *[f"__sh_{c}" for c in cols])

    # ------------------------------------------------------------------ #
    # sessionization (reference §2.6)
    # ------------------------------------------------------------------ #

    def group_nearby_members(self, values: str, max_diff, session_col: str = "session_id") -> DataFrame:
        """Sub-group rows of a group when the gap between consecutive values
        exceeds ``max_diff`` (reference core.py:1891-1910). Classic session
        pattern: flag gap > max_diff, running sum of flags = session index.
        The session identity is (keys..., session_col) — we deliberately do
        NOT assign a globally-sequential int id, which would need a global
        sort; downstream grouping on the composite is shuffle-equivalent."""
        w = Window.partitionBy(*self._keys).orderBy(values)
        gap = F.col(values) - F.lag(values).over(w)
        flagged = self._base().withColumn(
            "__new_session", F.when(gap > max_diff, F.lit(1)).otherwise(F.lit(0)))
        cum = Window.partitionBy(*self._keys).orderBy(values).rowsBetween(
            Window.unboundedPreceding, Window.currentRow)
        return flagged.withColumn(session_col, F.sum("__new_session").over(cum)).drop("__new_session")

    def apply(self, func, schema) -> DataFrame:
        """Per-group pandas function via Arrow-batched ``applyInPandas``
        (GROUPED_MAP) — the engine's escape hatch for semantics the built-in
        operators can't express (reference ``GroupBy.apply`` surface,
        api.py:358-403). ``func(pdf) -> pdf`` sees one group as a pandas
        DataFrame, sorted by ``order_by`` when the GroupBy has one (the
        reference's implicit row order, made explicit).

        Scale notes: one group must fit in one executor's memory; prefer the
        declarative operators wherever possible."""
        order_cols = list(self._order_by)

        def wrapped(pdf):
            if order_cols:
                pdf = pdf.sort_values(order_cols)
            return func(pdf)

        return self._base().groupBy(*self._keys).applyInPandas(wrapped, schema)

    def rolling(self, window: int, min_periods: int | None = None) -> "GroupByRolling":
        """pandas-style rolling facade: ``gb.rolling(3).sum('x', mask=...)``
        (reference api.py:527-662)."""
        return GroupByRolling(self, window, min_periods)

    def expanding(self, min_periods: int = 1) -> "GroupByExpanding":
        """pandas-style expanding facade — ``gb.expanding().mean('x')``:
        the unbounded-preceding frame of the rolling machinery (parity
        extra; cumsum/cummin/cummax cover sum/min/max without the
        min_periods guard, this adds mean/var/std and the guard). Same
        mask semantics as rolling (masked rows are excluded observations
        but still emit output)."""
        return GroupByExpanding(self, min_periods)

    def ewm_mean(self, values=None, *, alpha: float, adjust: bool = True,
                 ignore_na: bool = False, method: str = "auto") -> DataFrame:
        """Exponentially weighted mean per group in ``order_by`` order —
        pandas ``GroupBy.ewm(alpha=...).mean()``. Output ``{col}_ewm``.

        ``method="scan"`` (the default via ``"auto"`` when
        ``adjust=True``) is fully declarative — whole-stage-codegen
        windows, no Python seam. The recurrence decomposes because (a)
        the adjusted EWM is a ratio of geometric-weighted prefix sums,
        computed per fixed-length chunk with the weights rescaled to the
        chunk origin (chunk length L chosen so the rescale factor stays
        ≤ ~1e17 — overflow-safe by construction — and the carry past the
        previous chunk is < (1−alpha)^L < 1e-17 relative, i.e. below
        double epsilon: one lag-1 carry from a corpus/L-sized chunk
        frame is exact to double precision); and (b) at a null row both
        numerator and denominator scale by the same (1−alpha) power, so
        the value is EXACTLY the previous row's — a per-group forward
        fill. Measured 207.8 s → JVM-side on 100M rows (BASELINE.md).

        ``method="kernel"`` (the default when ``adjust=False``, whose
        renormalized recurrence does not reduce to one prefix ratio)
        runs pandas' vectorized C kernel per group via Arrow-batched
        ``applyInPandas``: groups parallel, one C pass each, memory one
        group's columns (the documented GROUPED_MAP seam — same
        contract as :meth:`apply`)."""
        return self._ewm_dispatch(values, alpha, adjust, ignore_na, method,
                                  stat="mean")

    def ewm_var(self, values=None, *, alpha: float, adjust: bool = True,
                bias: bool = False, ignore_na: bool = False,
                method: str = "auto") -> DataFrame:
        """Exponentially weighted variance per group — pandas
        ``GroupBy.ewm(alpha=...).var(bias=...)``. Output ``{col}_ewm_var``.
        Same scan/kernel dispatch as :meth:`ewm_mean`; the scan adds a
        squared-weight component (ratio (1−alpha)²) for the bias
        correction W1²/(W1²−W2). Caveat shared with any weighted-moment
        formulation: when the effective sample size approaches 1 (all
        weight on one observation) the correction is a ratio of nearly
        cancelling terms and precision degrades — pandas' sequential
        kernel is stabler there; use ``method="kernel"`` if that regime
        matters."""
        return self._ewm_dispatch(values, alpha, adjust, ignore_na, method,
                                  stat="var", bias=bias)

    def ewm_std(self, values=None, *, alpha: float, adjust: bool = True,
                bias: bool = False, ignore_na: bool = False,
                method: str = "auto") -> DataFrame:
        """sqrt of :meth:`ewm_var` — pandas ``ewm().std()``. Output
        ``{col}_ewm_std``."""
        return self._ewm_dispatch(values, alpha, adjust, ignore_na, method,
                                  stat="std", bias=bias)

    def ewm_moments(self, values=None, *, alpha: float, adjust: bool = True,
                    bias: bool = False, ignore_na: bool = False,
                    method: str = "auto") -> DataFrame:
        """Mean, variance and std in ONE pass — outputs ``{col}_ewm``,
        ``{col}_ewm_var`` and ``{col}_ewm_std``. All three share every
        scan component (the mean is the var's own num/den ratio and the
        std its square root), so this costs one :meth:`ewm_var`, not
        three operators."""
        return self._ewm_dispatch(values, alpha, adjust, ignore_na, method,
                                  stat="moments", bias=bias)

    def _ewm_dispatch(self, values, alpha, adjust, ignore_na, method,
                      stat, bias=False):
        if not self._order_by:
            raise ValueError(f"ewm_{stat} requires order_by")
        if not (0.0 < alpha <= 1.0):
            raise ValueError("alpha must be in (0, 1]")
        if method not in ("auto", "scan", "kernel"):
            raise ValueError("method must be auto, scan or kernel")
        if method == "scan" and not adjust:
            raise ValueError("method='scan' supports adjust=True only")
        cols = self._numeric_values(values)
        suffix = "_ewm" if stat == "mean" else f"_ewm_{stat}"
        if method == "kernel" or (method == "auto" and not adjust):
            if stat == "moments":
                new_fields = [T.StructField(c + s, T.DoubleType())
                              for c in cols
                              for s in ("_ewm", "_ewm_var", "_ewm_std")]
            else:
                new_fields = [T.StructField(c + suffix, T.DoubleType())
                              for c in cols]
            schema = T.StructType(list(self._df.schema.fields) + new_fields)

            def fn(pdf):
                for c in cols:
                    ew = pdf[c].ewm(alpha=alpha, adjust=adjust,
                                    ignore_na=ignore_na)
                    if stat == "moments":
                        pdf[f"{c}_ewm"] = ew.mean()
                        pdf[f"{c}_ewm_var"] = ew.var(bias=bias)
                        pdf[f"{c}_ewm_std"] = ew.std(bias=bias)
                    else:
                        pdf[c + suffix] = (
                            ew.mean() if stat == "mean"
                            else ew.var(bias=bias) if stat == "var"
                            else ew.std(bias=bias))
                return pdf

            return self.apply(fn, schema)
        return self._ewm_scan(cols, alpha, ignore_na, stat=stat, bias=bias)

    def _ewm_scan(self, cols, alpha: float, ignore_na: bool,
                  stat: str = "mean", bias: bool = False) -> DataFrame:
        suffix = "_ewm" if stat == "mean" else f"_ewm_{stat}"
        base = self._base()
        ocols = [F.col(o) for o in self._order_by]
        w_pos = Window.partitionBy(*self._keys).orderBy(*ocols)
        w_cum = w_pos.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        r = 1.0 - alpha
        if r == 0.0:
            # alpha=1: only the current observation weighs; nulls carry.
            # mean = x; biased var = 0; unbiased var undefined (one
            # effective observation: W1² − W2 = 0 → pandas NaN)
            out = base
            for c in cols:
                x = F.col(c).cast("double")
                vb = (F.when(x.isNotNull(), F.lit(0.0)) if bias
                      else F.lit(None).cast("double"))
                if stat == "moments":
                    for sfx, v in ((f"{c}_ewm", x), (f"{c}_ewm_var", vb),
                                   (f"{c}_ewm_std", F.sqrt(vb))):
                        out = out.withColumn(
                            sfx, F.last(v, ignorenulls=True).over(w_cum))
                    continue
                v = x if stat == "mean" else (vb if stat == "var"
                                              else F.sqrt(vb))
                out = out.withColumn(
                    c + suffix, F.last(v, ignorenulls=True).over(w_cum))
            return out
        want_var = stat in ("var", "std", "moments")
        # END-ANCHORED chunk rescale: in-chunk weight r^(L−1−i) ≤ 1 (no
        # overflow possible, running sums bounded by the chunk length);
        # L picked so r^L < 1e-17 — the lag-1 carry is exact to double
        # precision and anything older is below epsilon
        L = max(8, int(math.ceil(-17.0 * math.log(10.0) / math.log(r))))
        d1, d2 = float(r ** L), float(r ** (2 * L))
        df = base
        # Materialize the weight exponent FIRST (r15 plan audit): emitted
        # before the anchor-min windows, the row_number/count window is the
        # plan's BOTTOM window, and its (keys, order) sort prefix-satisfies
        # the anchor windows' keys-only clustering — anchor-first order
        # forced an extra keys-only sort pass under the row_number sort
        # (ewm_var_std plan: 3 sorts → 2). One shared column also replaces
        # the six inlined copies of the same row_number expression the
        # weight terms used to carry. Values are bit-identical — the same
        # expressions, evaluated once.
        if not ignore_na:
            # every column shares the position exponent
            p0 = F.row_number().over(w_pos).cast("long") - F.lit(1)
            df = df.withColumn("__p", F.greatest(p0, F.lit(0)))
            pcol = {c: "__p" for c in cols}
        else:
            pcol = {}
            for c in cols:
                # weight exponent counts the column's non-null steps;
                # p < 0 only at leading-null rows (ffilled to null
                # anyway) — clamp so pow/chunk math stays finite
                nn = F.col(c).cast("double").isNotNull()
                p0 = F.sum(nn.cast("long")).over(w_cum) - F.lit(1)
                pcol[c] = f"__p_{c}"
                df = df.withColumn(pcol[c], F.greatest(p0, F.lit(0)))
        for c in cols:
            x = F.col(c).cast("double")
            nn = x.isNotNull()
            if want_var:
                # r15 numerical robustness: ewm var/std are shift-
                # invariant — subtract a per-group min anchor before the
                # weighted sums so sq/den − m² cannot cancel
                # catastrophically at large common offsets (the mean
                # path needs no anchor: a convex combination has no
                # cancellation). The anchor rides as a column so the
                # moments mean can add it back after the carry join.
                df = df.withColumn(
                    f"__a_{c}",
                    F.min(x).over(Window.partitionBy(*self._keys)))
                x = x - F.col(f"__a_{c}")
            p = F.col(pcol[c])
            w1 = F.pow(F.lit(r), (F.lit(L - 1) - p % F.lit(L)).cast("double"))
            df = (df.withColumn(f"__c_{c}", F.floor(p / F.lit(L)))
                  .withColumn(f"__z_{c}", w1 * x)
                  .withColumn(f"__zw_{c}",
                              F.when(nn, w1).otherwise(F.lit(0.0))))
            if want_var:
                df = (df.withColumn(f"__z2_{c}", w1 * x * x)
                      .withColumn(f"__zw2_{c}",
                                  F.when(nn, w1 * w1).otherwise(F.lit(0.0))))
        # within-chunk geometric prefix sums (one WindowExec per column's
        # chunk id; for ignore_na=False all columns share one chunk id
        # expression and Catalyst collapses the specs)
        for c in cols:
            w_chunk = (Window.partitionBy(*self._keys, f"__c_{c}")
                       .orderBy(*ocols)
                       .rowsBetween(Window.unboundedPreceding, Window.currentRow))
            df = (df.withColumn(f"__S_{c}", F.sum(f"__z_{c}").over(w_chunk))
                  .withColumn(f"__W_{c}", F.sum(f"__zw_{c}").over(w_chunk)))
            if want_var:
                df = (df.withColumn(f"__S2_{c}", F.sum(f"__z2_{c}").over(w_chunk))
                      .withColumn(f"__W2_{c}", F.sum(f"__zw2_{c}").over(w_chunk)))
        # lag-1 carry: each chunk needs the PREVIOUS chunk's four totals.
        # End-anchored totals carry straight through: a power-1 sum decays
        # by r^L per chunk, the squared-weight sum by r^(2L); the carry's
        # own inherited carry is < r^L relative — dropped. All output
        # ratios are scale-invariant, so the common r^(i−(L−1)) factor
        # never needs materializing.
        #
        # The carry is a RANGE [-1,-1] window over the chunk id:
        # last(__S) over partitionBy(keys).orderBy(__c) reads the previous
        # chunk's LAST cumsum row, i.e. exactly its total — no aggregate,
        # no join, and no second pass over the scan. Reading the chunk
        # window's own output (not re-summing __z) makes the carry DEPEND
        # on the chunk window, which stops TransposeWindow from swapping
        # the narrower-partitioned carry below it.
        #
        # Tie-order condition: the carry's (keys, __c) ordering is a prefix
        # of the chunk window's (keys, __c, order), and the fill window
        # orders by that same (keys, __c, order) sequence, so neither adds
        # a Sort — the post-exchange window stack shares two sorts. last()
        # reads each chunk's full-cumsum row only while no Sort re-orders
        # the rows that tie on __c (pinned in tests/test_groupby_core.py).
        out = df
        for c in cols:
            w_carry = (Window.partitionBy(*self._keys)
                       .orderBy(f"__c_{c}")
                       .rangeBetween(-1, -1))
            out = (out.withColumn("__pn", F.last(f"__S_{c}").over(w_carry))
                   .withColumn("__pw", F.last(f"__W_{c}").over(w_carry)))
            if want_var:
                out = (out.withColumn(
                    "__pb", F.last(f"__S2_{c}").over(w_carry))
                    .withColumn(
                    "__pw2", F.last(f"__W2_{c}").over(w_carry)))
            w_fill = (Window.partitionBy(*self._keys)
                      .orderBy(F.col(f"__c_{c}"), *ocols)
                      .rowsBetween(Window.unboundedPreceding,
                                   Window.currentRow))
            # a chunk whose prefix has no observation yet gives NULL
            # prefix sums (SQL sum-of-nothing) — that is 0 contribution,
            # NOT a null result: the carry alone must flow through
            # (F.greatest would silently swallow a null into the clamp)
            num = (F.coalesce(f"__S_{c}", F.lit(0.0))
                   + F.lit(d1) * F.coalesce("__pn", F.lit(0.0)))
            den = F.col(f"__W_{c}") + F.lit(d1) * F.coalesce("__pw", F.lit(0.0))
            # den > 0 iff any observation within the current or previous
            # chunk; beyond that the true EWM is constant across the null
            # run (every component decays by a common or squared-common
            # factor, leaving all ratios invariant), so the final
            # per-group forward fill is exact; leading nulls stay null
            if stat == "mean":
                val = F.when(den > F.lit(0.0), num / den)
            else:
                sq = (F.coalesce(f"__S2_{c}", F.lit(0.0))
                      + F.lit(d1) * F.coalesce("__pb", F.lit(0.0)))
                w2 = (F.col(f"__W2_{c}")
                      + F.lit(d2) * F.coalesce("__pw2", F.lit(0.0)))
                m = num / den
                vb = F.greatest(sq / den - m * m, F.lit(0.0))
                if bias:
                    val = F.when(den > F.lit(0.0), vb)
                else:
                    denom = den * den - w2
                    val = F.when(denom > F.lit(0.0), den * den / denom * vb)
                if stat == "std":
                    val = F.sqrt(val)
            if stat == "moments":
                # sums are of ANCHORED values — add the anchor back
                mean_val = F.when(den > F.lit(0.0),
                                  F.col(f"__a_{c}") + num / den)
                out = (out.withColumn(
                    f"{c}_ewm", F.last(mean_val, ignorenulls=True).over(w_fill))
                    .withColumn(
                    f"{c}_ewm_var", F.last(val, ignorenulls=True).over(w_fill))
                    .withColumn(f"{c}_ewm_std", F.sqrt(f"{c}_ewm_var")))
                out = out.drop("__nc", "__pn", "__pw", "__pb", "__pw2",
                               *[f"__k_{i}" for i in range(len(self._keys))],
                               f"__c_{c}", f"__z_{c}", f"__zw_{c}",
                               f"__S_{c}", f"__W_{c}", f"__z2_{c}",
                               f"__zw2_{c}", f"__S2_{c}", f"__W2_{c}",
                               f"__a_{c}")
                continue
            out = out.withColumn(
                c + suffix, F.last(val, ignorenulls=True).over(w_fill))
            drop = ["__nc", "__pn", "__pw",
                    *[f"__k_{i}" for i in range(len(self._keys))],
                    f"__c_{c}", f"__z_{c}", f"__zw_{c}",
                    f"__S_{c}", f"__W_{c}"]
            if want_var:
                drop += ["__pb", "__pw2", f"__z2_{c}", f"__zw2_{c}",
                         f"__S2_{c}", f"__W2_{c}", f"__a_{c}"]
            out = out.drop(*drop)
        return out.drop(*sorted(set(pcol.values())))

    def filter_groups(self, predicate: Column) -> DataFrame:
        """Rows of the groups whose AGGREGATE predicate holds — pandas
        ``GroupBy.filter`` re-expressed declaratively (pandas-parity
        extra beyond the reference, like nunique/mode/rank).

        ``predicate`` is a Column over aggregate functions — e.g.
        ``F.sum("v") > 100`` or ``(F.count(F.lit(1)) >= 3) &
        (F.avg("x") < 0.5)`` — anything Spark accepts inside ``agg()``.
        Where pandas takes a Python callable over each materialized
        sub-frame (a row-at-a-time loop at corpus scale), the
        declarative form stays in whole-stage codegen end to end.

        Plan shape: one keyed aggregate produces a boolean per group,
        the qualifying KEY frame (group-count-bounded, usually tiny
        relative to the corpus) semi-joins back against the rows — AQE
        broadcasts it when small, so the filter typically costs the
        aggregate plus a map-side probe. Null-key groups follow
        ``dropna`` (True = dropped); with ``dropna=False`` the semi
        join matches null keys null-safely, so a qualifying null-key
        group keeps its rows like any other.
        """
        base = self._base()
        flags = (base.groupBy(*[F.col(k) for k in self._keys])
                 .agg(predicate.alias("__keep")))
        kept = flags.where(F.col("__keep")).select(
            *[F.col(k).alias(f"__fk_{i}") for i, k in enumerate(self._keys)])
        cond = None
        for i, k in enumerate(self._keys):
            c = F.col(k).eqNullSafe(F.col(f"__fk_{i}"))
            cond = c if cond is None else cond & c
        return base.join(kept, cond, "left_semi")

    def groups(self, row_id: str) -> DataFrame:
        """key(s) → sorted array of row ids (reference ``groups`` dict,
        core.py:323-339). ANTI-PATTERN at scale: a group's id list must fit
        in one task; provided for parity, prefer keyed joins."""
        return (
            self._base()
            .groupBy(*self._keys)
            .agg(F.array_sort(F.collect_list(row_id)).alias("row_ids"))
        )

    def ngroups(self) -> int:
        """Number of distinct key combinations (reference api.py:199-202).
        One distinct-count job."""
        return self.key_count().count()

    def __repr__(self) -> str:
        return f"{type(self).__name__}(keys={self._keys})"

    def __iter__(self):
        """Iterate ``(key, group-DataFrame)`` pairs (reference
        api.py:207-210 yields ``(key, subframe)``).

        ANTI-PATTERN at scale — part of the facade contract only: collects
        the distinct key set to the driver and plans one filtered scan per
        group. Bounded by the number of GROUPS, not rows, but each yielded
        frame re-reads the source. Use aggregations, ``transform``, or
        ``apply`` for real work."""
        warnings.warn(
            "GroupBy iteration collects the key set and issues one filtered "
            "query per group — parity shim, not a scale path",
            RuntimeWarning, stacklevel=2)
        key_rows = self._base().select(*self._keys).distinct().orderBy(*self._keys).collect()
        for r in key_rows:
            vals = tuple(r[k] for k in self._keys)
            cond = None
            for k, v in zip(self._keys, vals):
                c = F.col(k) == F.lit(v)
                cond = c if cond is None else cond & c
            yield (vals[0] if len(vals) == 1 else vals), self._base().filter(cond)


class GroupByRolling:
    """Bound rolling context (reference BaseGroupByRolling, api.py:527-662):
    every method forwards to the engine's rolling_* with the stored window."""

    def __init__(self, gb: GroupBy, window: int, min_periods: int | None = None):
        self._gb = gb
        self._window = window
        self._min_periods = min_periods

    def _call(self, name: str, values=None, mask=None):
        fn = getattr(self._gb, f"rolling_{name}")
        return fn(values, window=self._window, mask=mask,
                  min_periods=self._min_periods)

    def sum(self, values=None, mask=None) -> DataFrame:
        return self._call("sum", values, mask)

    def mean(self, values=None, mask=None) -> DataFrame:
        return self._call("mean", values, mask)

    def min(self, values=None, mask=None) -> DataFrame:
        return self._call("min", values, mask)

    def max(self, values=None, mask=None) -> DataFrame:
        return self._call("max", values, mask)

    def median(self, values=None, mask=None) -> DataFrame:
        return self._call("median", values, mask)

    def quantile(self, q: float, values=None, mask=None) -> DataFrame:
        return self._gb.rolling_quantile(q, values, window=self._window,
                                         mask=mask,
                                         min_periods=self._min_periods)

    def cov(self, x: str, y: str, mask=None) -> DataFrame:
        return self._gb.rolling_cov(x, y, window=self._window, mask=mask,
                                    min_periods=self._min_periods)

    def corr(self, x: str, y: str, mask=None) -> DataFrame:
        return self._gb.rolling_corr(x, y, window=self._window, mask=mask,
                                     min_periods=self._min_periods)

    def agg(self, func: str, values=None, mask=None) -> DataFrame:
        return self._call(func, values, mask)

    def shift(self, values=None, mask=None) -> DataFrame:
        # reference rolling_shift = shift (core.py:1838): window = lag depth
        return self._gb.shift(values, window=self._window, mask=mask)

    def diff(self, values=None, mask=None) -> DataFrame:
        return self._gb.diff(values, window=self._window, mask=mask)


class GroupByExpanding:
    """Bound expanding context (pandas ``GroupBy.expanding`` analog):
    every method runs the rolling machinery with the unbounded-preceding
    frame and the stored ``min_periods``."""

    def __init__(self, gb: GroupBy, min_periods: int = 1):
        self._gb = gb
        self._min_periods = min_periods

    def _call(self, name: str, values=None, mask=None):
        return self._gb._rolling(name, values, None, mask,
                                 self._min_periods, f"expanding_{name}")

    def sum(self, values=None, mask=None) -> DataFrame:
        return self._call("sum", values, mask)

    def mean(self, values=None, mask=None) -> DataFrame:
        return self._call("mean", values, mask)

    def min(self, values=None, mask=None) -> DataFrame:
        return self._call("min", values, mask)

    def max(self, values=None, mask=None) -> DataFrame:
        return self._call("max", values, mask)

    def var(self, values=None, mask=None) -> DataFrame:
        return self._call("var", values, mask)

    def std(self, values=None, mask=None) -> DataFrame:
        return self._call("std", values, mask)

    def median(self, values=None, mask=None) -> DataFrame:
        return self._gb._rolling("quantile:0.5", values, None, mask,
                                 self._min_periods, "expanding_median")

    def quantile(self, q: float, values=None, mask=None) -> DataFrame:
        if not 0.0 <= float(q) <= 1.0:
            raise ValueError("q must be in [0, 1]")
        return self._gb._rolling(f"quantile:{float(q)}", values, None,
                                 mask, self._min_periods,
                                 "expanding_quantile")

    def cov(self, x: str, y: str, mask=None) -> DataFrame:
        return self._gb._rolling_pair("cov", x, y, None, mask,
                                      self._min_periods, "expanding_cov")

    def corr(self, x: str, y: str, mask=None) -> DataFrame:
        return self._gb._rolling_pair("corr", x, y, None, mask,
                                      self._min_periods, "expanding_corr")

    def agg(self, func: str, values=None, mask=None) -> DataFrame:
        return self._call(func, values, mask)
