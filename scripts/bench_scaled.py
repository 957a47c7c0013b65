#!/usr/bin/env python
"""Scaling benchmark: run a query subset at an arbitrary SF dir with the
same noop-sink protocol as bench.py, printing one JSON line per run.

Usage: python scripts/bench_scaled.py SF_DIR[,SF_DIR2,...] [query ...]

Comma-separated dirs run back-to-back in ONE warm session (one boot), the
protocol BASELINE.md's scaling-decade tables require — cross-boot
comparisons carry 40-50% JIT/page-cache variance (r6 A/B finding).
One JSON line per dir.

Default query set = the heavy operators whose 100 TB story the scaling
exponent either confirms or breaks (dedup pipeline, composed curation,
incremental dedup, minhash, repetition filter, tf-idf, streaming replays).
Timings exclude session startup; one warm-up pass touches every table and
the noop committer.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import noop, time_query  # noqa: E402
from pandas_plus_spark.session import get_spark  # noqa: E402

HEAVY = [
    "dedup_keep_list",
    "curation_pipeline",
    "incremental_dedup",
    "incremental_dedup_indexed",
    "minhash_neardup",
    "repetition_filter",
    "tfidf_top_terms",
    "streaming_tumbling",
    "streaming_dedup",
    "streaming_running",
    "segment_revenue",
    "segment_revenue_bucketed",
    # round-5 second wave
    "streaming_neardup",
    "quality_classifier",
    "bigram_ppl",
]


def main() -> None:
    sf_dirs = sys.argv[1].split(",")
    names = sys.argv[2:] or HEAVY
    spark = get_spark(app_name="pandas-plus-spark-bench-scaled")
    spark.sparkContext.setLogLevel("ERROR")
    for sf_dir in sf_dirs:
        run_dir(spark, sf_dir, names)


def run_dir(spark, sf_dir: str, names: list[str]) -> None:
    from pandas_plus_spark.sources import load_tables
    for df in load_tables(spark, sf_dir).values():
        df.count()
    noop(spark.range(1000).selectExpr("sum(id) as s"))

    # Layout-backed queries measure the STEADY-STATE plan over a standing
    # warehouse artifact (bucketed fact tables / stored dedup index); build
    # the layout during warmup (one-time cost, reported separately) so the
    # timed run is the recurring query.
    builds = {}
    for lq in ("segment_revenue_bucketed", "incremental_dedup_indexed"):
        if lq in names:
            builds[lq] = time_query(spark, sf_dir, lq)
            print(f"# layout build+first run ({lq}): {builds[lq]:.2f}s",
                  file=sys.stderr)

    timings: dict[str, float] = {}
    for name in names:
        timings[name] = time_query(spark, sf_dir, name)
        print(f"# {name}: {timings[name]:.2f}s", file=sys.stderr)
    out = {
        "metric": "scaled_bench_wall",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf_dir": sf_dir,
    }
    if builds:
        out["layout_build_sec"] = builds
    print(json.dumps(out))


if __name__ == "__main__":
    main()
