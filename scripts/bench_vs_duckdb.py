#!/usr/bin/env python
"""Engine-vs-DuckDB wall-clock at an arbitrary SF dir — the reproducible
source of BASELINE.md's oracle-priced comparison tables.

Usage: python scripts/bench_vs_duckdb.py SF_DIR [--passes N] [query ...]

--passes N (default 1) codifies the graded x3 protocol in one
invocation: N back-to-back sweeps of the full query set in ONE boot,
one JSON line per pass (each the same shape as a single run), then a
summary line carrying, per query, the pass-1 (cold-grain,
driver-comparable) and STEADY (median of passes 2..N) timings for both
engines — the first-run/steady split VERDICT r10 asked to make a
number instead of a judgment call. The graded ratio stays the per-pass
engine/duck ratio median; the steady columns price the re-execution
floor that the weak-query floor decompositions cite.

Default query set = the headline queries that have a SQL oracle (DuckDB
can only price those). Engine protocol matches bench.py (warm session,
noop sink, caches released); DuckDB runs the oracle_sql() twin on the
same parquet, materializing the FULL result via .arrow() — columnar
transfer, the fair analog of the engine's noop sink. (fetchall() was the
r5.0 protocol; on 6M-row results it measured Python-tuple construction,
~2x the query's own cost, inflating DuckDB by up to 90 s per query.)
Prints one JSON line with per-query (engine_sec, duck_sec) pairs and the
subset totals.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))

from bench import HEADLINE, time_query, warm_session  # noqa: E402
from pandas_plus_spark.session import get_spark  # noqa: E402

# Oracle twins for query shapes whose registry entries were folded into
# compound gates by the r10 consolidation (the compounds' oracles cover
# these columns; the bench keeps pricing the original narrow shapes).
FOLDED_SQL = {
    "rolling_sum": """
        SELECT event_id, user_id, value,
               CASE WHEN count(value) OVER w >= 3 THEN sum(value) OVER w END
                 AS value_rolling_sum
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
}


def main() -> None:
    sf_dir = sys.argv[1]
    spark = get_spark(app_name="pps-bench-vs-duckdb")
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as em
    from oracle_harness import duck_connection

    sqls = em.oracle_sql()
    # the stored-index form is pure precomputation — same twin as the fold
    FOLDED_SQL.setdefault("incremental_dedup_indexed",
                          em._sql_incremental_dedup())

    argv = sys.argv[2:]
    passes = 1
    if "--passes" in argv:
        i = argv.index("--passes")
        passes = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    names = argv or [n for n in HEADLINE
                     if n in sqls or n in FOLDED_SQL]
    sqls = {**FOLDED_SQL, **sqls}

    # Warm the engine INFRASTRUCTURE only (JVM C2, Python worker pool,
    # committer) — never a priced plan; see bench.warm_session. The timed
    # pass below still pays every priced plan's own codegen compile + AQE.
    warm_session(spark, sf_dir)
    if "incremental_dedup_indexed" in names:
        time_query(spark, sf_dir, "incremental_dedup_indexed")

    con = duck_connection(sf_dir)
    # symmetric warm on the DuckDB side (negligible, kept for protocol
    # fairness: both engines start their timed pass post-initialization)
    con.sql("SELECT count(*) FROM lineitem").arrow()
    all_passes: list[dict] = []
    for pass_no in range(1, passes + 1):
        results: dict[str, dict] = {}
        for name in names:
            eng = time_query(spark, sf_dir, name)
            t0 = time.perf_counter()
            con.sql(sqls[name]).arrow()
            duck = round(time.perf_counter() - t0, 4)
            results[name] = {"engine": eng, "duck": duck}
            print(f"# p{pass_no} {name}: engine {eng:.2f}s "
                  f"duck {duck:.2f}s", file=sys.stderr)
        all_passes.append(results)
        te = round(sum(r["engine"] for r in results.values()), 2)
        td = round(sum(r["duck"] for r in results.values()), 2)
        print(json.dumps({
            "metric": "engine_vs_duckdb",
            "pass": pass_no,
            "engine_total": te,
            "duck_total": td,
            "ratio": round(te / td, 3) if td else None,
            "queries": results,
            "sf_dir": sf_dir,
        }), flush=True)
    if passes > 1:
        def med(vals):
            s = sorted(vals)
            mid = len(s) // 2
            return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2

        summary = {
            name: {
                "engine_p1": all_passes[0][name]["engine"],
                "duck_p1": all_passes[0][name]["duck"],
                "engine_steady": round(med(
                    [p[name]["engine"] for p in all_passes[1:]]), 4),
                "duck_steady": round(med(
                    [p[name]["duck"] for p in all_passes[1:]]), 4),
            } for name in names
        }
        tes = round(sum(s["engine_steady"] for s in summary.values()), 2)
        tds = round(sum(s["duck_steady"] for s in summary.values()), 2)
        print(json.dumps({
            "metric": "engine_vs_duckdb_steady_split",
            "passes": passes,
            "ratio_per_pass": [
                round(sum(r["engine"] for r in p.values())
                      / sum(r["duck"] for r in p.values()), 3)
                for p in all_passes],
            "engine_steady_total": tes,
            "duck_steady_total": tds,
            "steady_ratio": round(tes / tds, 3) if tds else None,
            "queries": summary,
            "sf_dir": sf_dir,
        }))


if __name__ == "__main__":
    main()
