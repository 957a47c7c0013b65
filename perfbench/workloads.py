"""The benchmark's workloads: which engine calls one pass makes, in what order.

A pass is a list of :class:`Step` objects. A step builds one DataFrame
through the engine; the runner materializes it (noop sink when timed,
``toPandas`` when verifying) and compares the verified output with the
step's DuckDB twin. Registry steps take their twin from
``__spark_entry__.oracle_sql()``; the ``groupby`` workload's reuse block
generates its own SQL from the same seeded thresholds the engine call uses.

Everything that varies with ``--seed`` is drawn here: the order of the steps
in each pass and the reuse block's mask thresholds.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Registry queries that each build a fresh GroupBy or crosstab over
# lineitem: masked aggregation, a crosstab with margins (the grouping-sets
# cube) and the GroupBy.apply Arrow seam.
GROUPBY_QUERIES = ("masked_sum", "crosstab_pivot", "apply_zscore")
# A keyed cumulative window, a two-phase range-partition twin from
# functions.ordered, and text-curation operators.
PIPELINE_QUERIES = (
    "cumsum", "group_ffill_scale", "dedup_exact", "chunk_dedup",
    "unigram_ppl", "curation_pipeline",
)

WORKLOADS = ("groupby", "pipeline")

REUSE_KEY = "l_partkey"
REUSE_COLUMNS = (REUSE_KEY, "l_quantity", "l_extendedprice", "l_discount",
                 "l_tax")
# (aggregation, value column, mask column, comparison, threshold grid).
# Grids sit halfway between the data's own values (two-decimal prices and
# rates, integer quantities), so no row compares equal to a threshold and
# float parsing cannot move a row across it in either engine. They span the
# middle of each column's range, so every seed keeps 35-65 % of the rows and
# the work per pass hardly moves with the seed.
_RATE = [k / 100 + 0.005 for k in range(3, 7)]   # l_discount: 0.00 .. 0.10
_TAX = [k / 100 + 0.005 for k in range(3, 5)]    # l_tax: 0.00 .. 0.08
_QTY = [k + 0.5 for k in range(18, 33)]          # l_quantity: 1 .. 50
_PRICE = [k * 1000 + 0.005 for k in range(35, 65)]  # l_extendedprice: 900 .. 105000
REUSE_AGGS = (
    ("sum", "l_extendedprice", "l_discount", ">", _RATE),
    ("mean", "l_quantity", "l_tax", "<", _TAX),
    ("var", "l_extendedprice", "l_quantity", ">", _QTY),
    ("max", "l_discount", "l_quantity", "<", _QTY),
    ("nunique", "l_quantity", "l_discount", ">=", _RATE),
    ("size", None, "l_tax", ">", _TAX),
    ("std", "l_quantity", "l_extendedprice", ">", _PRICE),
    ("median", "l_discount", "l_quantity", "<=", _QTY),
)
_SQL_AGG = {"sum": "sum({})", "mean": "avg({})", "var": "var_samp({})",
            "max": "max({})", "nunique": "count(DISTINCT {})",
            "std": "stddev_samp({})",
            "median": "median({})"}
_OPS = {">": lambda c, t: c > t, "<": lambda c, t: c < t,
        ">=": lambda c, t: c >= t, "<=": lambda c, t: c <= t}


@dataclass(frozen=True)
class Step:
    """One engine call. ``build`` returns the frame to materialize, or None
    for a step that only changes state (unpersist). ``oracle`` is the DuckDB
    SQL that ``check(frame)`` must match; a step with no frame has none."""
    name: str
    build: Callable[[SparkSession, str], DataFrame | None]
    oracle: str | None
    unit: str  # registry query name, or "reuse" for the reuse block
    check: Callable[[DataFrame], DataFrame] = lambda df: df


def reuse_thresholds(seed: int) -> list[float]:
    """One mask threshold per reuse aggregation, fixed for the whole run."""
    rng = random.Random(f"reuse:{seed}")
    return [rng.choice(grid) for *_, grid in REUSE_AGGS]


# The cached frame is verified by its row count and per-column sums (its
# 600k rows are too many to collect every pass); the aggregations read from
# it are verified in full.
# (Sums are compared as doubles: DuckDB widens an integer sum to HUGEINT.)
_FINGERPRINT_SQL = "SELECT count(*) AS n, " + ", ".join(
    f"CAST(sum({c}) AS DOUBLE) AS {c}" for c in REUSE_COLUMNS) + " FROM lineitem"


def _fingerprint(df: DataFrame) -> DataFrame:
    return df.agg(F.count(F.lit(1)).alias("n"),
                  *[F.sum(c).cast("double").alias(c) for c in REUSE_COLUMNS])


class ReuseBlock:
    """``GroupBy(lineitem, l_partkey).persist()``, materialized once, then
    masked aggregations against the one cached, key-partitioned frame, then
    ``unpersist()`` — the reference's factorization reuse."""

    def __init__(self, seed: int):
        self.thresholds = reuse_thresholds(seed)
        self._gb = None

    def steps(self, rng: random.Random) -> list[Step]:
        aggs = list(range(len(REUSE_AGGS)))
        rng.shuffle(aggs)
        return ([Step("reuse_persist", self._persist, _FINGERPRINT_SQL, "reuse",
                      _fingerprint)]
                + [self._agg_step(i) for i in aggs]
                + [Step("reuse_unpersist", self._unpersist, None, "reuse")])

    def _persist(self, spark: SparkSession, data_dir: str) -> DataFrame:
        from pandas_plus_spark.groupby import GroupBy
        from pandas_plus_spark.sources.tables import load_table

        li = load_table(spark, data_dir, "lineitem").select(*REUSE_COLUMNS)
        self._gb = GroupBy(li, REUSE_KEY, sort=False).persist()
        return self._gb.df

    def _unpersist(self, spark: SparkSession, data_dir: str) -> None:
        self._gb.unpersist()
        self._gb = None

    def _agg_step(self, i: int) -> Step:
        func, value, mask_col, op, _ = REUSE_AGGS[i]
        t = self.thresholds[i]

        def build(spark: SparkSession, data_dir: str) -> DataFrame:
            mask = _OPS[op](F.col(mask_col), F.lit(t))
            if func == "size":
                return self._gb.size(mask=mask)
            return getattr(self._gb, func)(value, mask=mask)

        cond = f"{mask_col} {op} CAST({t!r} AS DOUBLE)"
        if func == "size":
            # size keeps fully masked groups, with size 0
            sql = (f"SELECT {REUSE_KEY}, count(*) FILTER (WHERE {cond}) AS size "
                   f"FROM lineitem GROUP BY {REUSE_KEY}")
        else:
            # other aggregations drop groups whose rows are all masked out
            sql = (f"SELECT {REUSE_KEY}, {_SQL_AGG[func].format(value)} "
                   f"FILTER (WHERE {cond}) AS {value} FROM lineitem "
                   f"GROUP BY {REUSE_KEY} HAVING count(*) FILTER (WHERE {cond}) > 0")
        return Step(f"reuse_{func}", build, sql, "reuse")


class Workload:
    """The passes of one workload for one seed."""

    def __init__(self, name: str, seed: int):
        if name not in WORKLOADS:
            raise ValueError(f"unknown workload {name!r}; choose from {WORKLOADS}")
        import __spark_entry__ as registry

        self.name = name
        self.seed = seed
        self._queries = registry.queries()
        self._oracles = registry.oracle_sql()
        names = GROUPBY_QUERIES if name == "groupby" else PIPELINE_QUERIES
        self.units: list[str] = list(names) + (["reuse"] if name == "groupby" else [])
        self.reuse = ReuseBlock(seed) if name == "groupby" else None

    def order(self, pass_index: int) -> list[str]:
        """Unit order of one pass; each pass gets its own shuffle."""
        units = list(self.units)
        random.Random(f"order:{self.seed}:{pass_index}").shuffle(units)
        return units

    def steps(self, pass_index: int) -> list[Step]:
        rng = random.Random(f"reuse-order:{self.seed}:{pass_index}")
        out: list[Step] = []
        for unit in self.order(pass_index):
            if unit == "reuse":
                out += self.reuse.steps(rng)
            else:
                out.append(Step(unit, self._queries[unit],
                                self._oracles[unit], unit))
        return out
