#!/usr/bin/env python
"""Capture .explain("formatted") for every bench.py headline query into
plans/<tag>/<query>_<suffix>.txt (no execution — plan only).

Usage: python scripts/capture_plans.py TAG SUFFIX [query ...]
  e.g. python scripts/capture_plans.py r15 before
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE, resolve  # noqa: E402


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    only = sys.argv[3:] or None
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    from pandas_plus_spark.session import get_spark
    spark = get_spark(app_name="plan-capture")
    spark.sparkContext.setLogLevel("ERROR")

    for name in only or HEADLINE:
        try:
            df = resolve(name)(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted"))
        except Exception as e:  # noqa: BLE001
            plan = f"PLAN CAPTURE FAILED: {e}"
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")


if __name__ == "__main__":
    main()
