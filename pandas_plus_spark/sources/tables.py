"""Parquet table loaders for the TPC-H-ish test corpus.

The reference engine (pandas-plus) has no I/O layer of its own — columns
arrive as in-memory arrays (reference util.py:633-686 normalizes any
columnar container). In Spark the natural equivalent is `spark.read.parquet`
with schema-on-read; filters and projections are pushed into the scan by
Catalyst, which is the behavior we rely on at 100 TB.

Row-order contract: the reference's ordered operators (cumulative, rolling,
shift, head/nth) depend on implicit array order (reference numba.py:438-457).
Spark DataFrames are unordered, so ordered operators in this engine take an
explicit ``order_by`` column. ``with_row_id`` materializes a deterministic
row id for data that has no natural order column — at ingest, never later
(``monotonically_increasing_id`` is only stable for a single read plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small dimension tables: always broadcast-join these against fact tables.
DIM_TABLES = frozenset({"region", "nation", "customer", "supplier", "part"})


# (appId, sf_dir, name) -> DataFrame. A DataFrame is an immutable logical
# plan, so handing the same object to every caller is safe; re-reading
# costs a driver-side file listing + footer/schema fetch (~70 ms per call,
# measured r8) that per-query pipelines otherwise pay several times over.
# Keyed by applicationId so a new session never sees another session's
# plans. Fixture tables are immutable for a session's lifetime; callers
# that rewrite a table mid-session (none in the repo) must clear_table_cache().
_TABLE_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def clear_table_cache() -> None:
    _TABLE_CACHE.clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one parquet table. Column pruning + predicate pushdown apply to
    whatever the caller selects/filters afterwards — the returned frame is
    an un-materialized scan plan (memoized per session, see _TABLE_CACHE;
    never ``.persist()``-ed here).

    ``events.ts`` is written as parquet TIMESTAMP(NANOS), which Spark 4
    rejects outright by default; we read nanos as long and convert to a
    microsecond timestamp (the values are µs-granular, so this is lossless).
    Set here, not in the session factory, because the driver's harness hands
    us an already-built session.
    """
    key = (spark.sparkContext.applicationId, sf_dir.rstrip("/"), name)
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = _read_table(spark, sf_dir, name)
    _TABLE_CACHE[key] = df
    return df


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            # `div`, NOT `/`: epoch-ns (~1.7e18) exceeds double's 2^53
            # integer range, so float division is off by ±1 µs on a few
            # rows; long integer division is exact
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def with_row_id(df: DataFrame, col: str = "_row_id") -> DataFrame:
    """Attach a deterministic-within-this-plan row id.

    NOTE: ids are stable only for the lifetime of this exact plan; persist
    (or write out) the result if the id must survive re-computation. Ordered
    operators should prefer a natural key (timestamp, sequence column).
    """
    return df.withColumn(col, F.monotonically_increasing_id())
