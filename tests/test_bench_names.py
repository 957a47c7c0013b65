"""Every query name the timing harness refers to resolves to a callable.

bench.py, scripts/bench_scaled.py, scripts/bench_vs_duckdb.py and
scripts/capture_plans.py look queries up by name through
``bench.resolve`` (registry entry, else the module-level ``_q_<name>``
callable a compound gate folded in). A registry rename would otherwise
surface only when a script is run. No Spark session is needed: resolving
a name builds no plan.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

import bench  # noqa: E402
import bench_scaled  # noqa: E402
import capture_plans  # noqa: E402

NAMES = sorted(
    set(bench.HEADLINE) | set(bench.WARMERS) | set(bench_scaled.HEAVY)
    | set(capture_plans.HEADLINE)
    # bench_scaled's layout builds and bench.py's steady-state warmup
    | {"segment_revenue_bucketed", "incremental_dedup_indexed"})


@pytest.mark.parametrize("name", NAMES)
def test_harness_name_resolves(name):
    assert callable(bench.resolve(name))


def test_unknown_name_raises():
    with pytest.raises(KeyError, match="no_such_query"):
        bench.resolve("no_such_query")
