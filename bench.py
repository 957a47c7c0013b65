#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with a noop-datasource write: every output column
is fully computed and serialized, but nothing lands on disk. A bare
``df.count()`` would let Catalyst prune unused projections and window columns
— map-only queries would time little more than the parquet scan (ADVICE r1
#2). Timings exclude session startup and include one warm-up run so
JVM/codegen startup cost is not attributed to the first query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from pandas_plus_spark.session import get_spark  # noqa: E402
from pandas_plus_spark.util import release_cached  # noqa: E402

HEADLINE = [
    "q1_pricing_summary",
    "masked_sum",
    "group_var_std",
    "group_median",
    "margins_sum",
    "crosstab_pivot",
    "transform_sum",
    "cumsum",
    "rolling_sum",
    "sessionize",
    "segment_revenue",
    "nation_revenue",
    "asof_join",
    "interval_join",
    "apply_zscore",
    "dedup_exact",
    "doc_token_stats",
    "minhash_neardup",
    "knn_cosine",
    "winnow_fingerprints",
    # skew pair: salted top-n on a 97%-hot key should stay within ~2x of the
    # uniform-key equivalent (proves the salted path + AQE handle skew)
    "skew_topn_salted",
    "skew_topn_uniform",
    # r7 skew pair for the LSH candidate join: Zipfian bucket (20% hot
    # cluster) with and without the hot-bucket cap — records the cap's
    # effect on the quadratic blowup as a number
    "lsh_skew_capped",
    "lsh_skew_uncapped",
    # round-2 continuation: sampling/packing/repetition pipeline ops
    "pack_chunks",
    "repetition_filter",
    # round-5: classics + mixing + steady-state indexed dedup
    "q6_forecast",
    "q3_shipping",
    "q5_local_supplier",
    "q18_large_orders",
    "temperature_mixture",
    "incremental_dedup_indexed",
    # round-4: composed curation disposition, paragraph dedup, unigram LM
    "curation_pipeline",
    "chunk_dedup",
    "unigram_ppl",
    # round-5 second wave: learned-model seam + LM fluency signal
    "quality_classifier",
    "bigram_ppl",
    # round-5 close: substring-granular dedup sweep over the corpus
    "duplicated_spans",
    # round-7 close: training-mix selection (grouped-cumsum token budgets,
    # per-source quantile calibration); leakage_split is excluded — its
    # GATE form deliberately uses the exact all-pairs oracle graph (the
    # production pair source is the measured minhash pipeline)
    "token_budget",
    "quantile_calibration",
    # round-7 continuation: pandas-parity sweep representatives (the keyed
    # fill windows, the one Python-kernel seam, and the zero-shuffle
    # calibrate-then-map binning)
    "group_fill",
    "ewm_mean",
    "qcut_deciles",
    # round-7 close: the declarative ewm moments and the few-huge-groups
    # scale paths (range partition + broadcast carry/count frames)
    "ewm_var_std",
    "group_ffill_scale",
    "group_take_scale",
    "group_rolling_time_scale",
    # single-pass multi-method rank (was 17 s as three sequential
    # operator pipelines; the methods= list shares one numbering pass)
    "group_rank_scale",
]


# Non-headline registry queries that warm the hash-aggregate and
# partitioned-window shapes (see warm_session).
WARMERS = ("group_minmax", "shift")


def resolve(name: str):
    """The registry callable for query ``name``.

    The r10 registry consolidation folded some former entries into
    compound gates; the harness keeps pricing the original query shapes
    (name continuity across BENCH_r*.json) via the module-level
    ``_q_<name>`` callables, which the compounds themselves still
    execute."""
    import __spark_entry__ as entry_mod

    fn = entry_mod.queries().get(name) or getattr(entry_mod, "_q_" + name, None)
    if fn is None:
        raise KeyError(f"no registry query or _q_ callable named {name!r}")
    return fn


def noop(df) -> None:
    """Materialize ``df`` through the noop sink: every output column is
    computed (no projection pruning, unlike ``count()``), nothing lands on
    disk."""
    df.write.format("noop").mode("overwrite").save()


def time_query(spark, sf_dir: str, name: str) -> float:
    """Seconds to build and noop-sink query ``name`` (rounded to 0.1 ms).
    The operator-persisted intermediates are released afterwards — the
    documented caller contract — so one query's caches never pressure the
    next; the release is not timed."""
    fn = resolve(name)
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    noop(df)
    elapsed = round(time.perf_counter() - t0, 4)
    release_cached(df)
    return elapsed


def warm_session(spark, sf_dir: str) -> None:
    """Warm the ENGINE INFRASTRUCTURE, never the priced plans: the r8
    decomposition (BASELINE.md) measured the 47-query sf1 suite at 119 s
    in a cold session vs 95 s with a hot JVM vs 70 s with per-plan codegen
    also cached — ~24 s of the cold total is one-time JVM cost (C2
    compilation of the parquet reader / codegen stack, the Python
    pandas-UDF worker pool fork+import, shuffle/committer init) that the
    protocol has always intended to exclude ("timings exclude session
    startup"). Every warmer below is an AD-HOC plan or a non-headline
    registry query, so no priced query's generated code is pre-compiled —
    the timed pass still pays each plan's own Janino compile, AQE
    re-planning, and full execution.

    Shapes covered: scan+hash-agg, partitioned window, shuffle join,
    explode/HOF over text, sort, pivot, applyInPandas + mapInPandas (the
    Arrow worker pool, across all cores), and the noop committer."""
    import pandas as _pd  # noqa: F401

    from pandas_plus_spark.sources import load_tables
    tabs = load_tables(spark, sf_dir)
    for df in tabs.values():
        df.count()
    noop(spark.range(1000).selectExpr("sum(id) as s"))
    # hash aggregate + partitioned window via non-headline registry queries
    for warm_q in WARMERS:
        noop(resolve(warm_q)(spark, sf_dir))
    li = tabs["lineitem"]
    # shuffle join + sort (ad-hoc: keys/filters differ from every priced query)
    noop(li.select("l_orderkey", "l_partkey", "l_quantity")
         .join(tabs["orders"].select("o_orderkey", "o_custkey"),
               F.col("l_orderkey") == F.col("o_orderkey"))
         .groupBy("o_custkey").agg(F.sum("l_quantity").alias("q"))
         .orderBy(F.desc("q")).limit(10))
    # pivot
    noop(li.groupBy("l_linestatus").pivot("l_returnflag")
         .agg(F.count(F.lit(1))))
    # explode/HOF text shape
    noop(tabs["documents"].select(F.explode(F.split("text", " ")).alias("w"))
         .groupBy("w").count().orderBy(F.desc("count")).limit(5))
    # Python/Arrow worker pool: one applyInPandas and one mapInPandas, with
    # enough partitions that every core's worker forks + imports pandas now
    ev = (tabs["events"].select("user_id", "value")
          .limit(100_000).repartition(64))
    noop(ev.groupBy("user_id")
         .applyInPandas(lambda p: p, schema="user_id long, value double"))
    noop(ev.mapInPandas(lambda it: it, schema="user_id long, value double"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="pandas-plus-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    warm_session(spark, sf_dir)
    # layout-backed queries: build the standing artifact (stored dedup
    # index) during warmup so the timed run measures the steady state
    noop(resolve("incremental_dedup_indexed")(spark, sf_dir))

    timings = {name: time_query(spark, sf_dir, name) for name in HEADLINE}
    total = round(sum(timings.values()), 4)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(json.dumps({
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }))


if __name__ == "__main__":
    main()
