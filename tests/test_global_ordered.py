"""Global ordered operators vs the single-window reference formulation.

The whole point of functions/ordered.py is that range-partition + prefix
offsets equals the unpartitioned window bit-for-bit (given a total order);
these tests pin that across partition counts, including partition counts
that force empty / tiny range partitions.
"""

import pyspark.sql.functions as F
import pytest
from pyspark.sql.window import Window

from pandas_plus_spark.functions.ordered import (
    global_cumsum,
    global_ntile,
    global_row_number,
    global_shift,
)


@pytest.fixture(scope="module")
def frame(spark):
    # non-contiguous keys, negative values, a duplicate-free total order
    rows = [(i * 7 % 1000, float((-1) ** i * i)) for i in range(1000)]
    return spark.createDataFrame(rows, "k long, v double")


PARTS = [1, 3, 8, 64]  # 64 > distinct-range granularity → empty partitions


class TestGlobalRowNumber:
    @pytest.mark.parametrize("n", PARTS)
    def test_matches_window(self, frame, n):
        got = dict(
            global_row_number(frame, "k", num_partitions=n)
            .select("k", "row_number").collect())
        exp = dict(
            frame.select(
                "k", F.row_number().over(Window.orderBy("k")).alias("rn"))
            .collect())
        assert got == exp


class TestGlobalCumsum:
    @pytest.mark.parametrize("n", PARTS)
    def test_matches_window(self, frame, n):
        got = dict(
            global_cumsum(frame, "k", "v", num_partitions=n)
            .select("k", "cumsum").collect())
        w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding,
                                            Window.currentRow)
        exp = dict(frame.select("k", F.sum("v").over(w).alias("c")).collect())
        assert set(got) == set(exp)
        for k in exp:
            assert got[k] == pytest.approx(exp[k], rel=1e-12, abs=1e-9), k

    def test_null_values_skipped_like_sum(self, spark):
        df = spark.createDataFrame(
            [(1, 1.0), (2, None), (3, 2.0)], "k long, v double")
        got = dict(global_cumsum(df, "k", "v").select("k", "cumsum").collect())
        assert got == {1: 1.0, 2: 1.0, 3: 3.0}


class TestGlobalShift:
    @pytest.mark.parametrize("n_shift", [1, 3, -2])
    def test_matches_lag(self, frame, n_shift):
        got = dict(
            global_shift(frame, "k", "v", n=n_shift, num_partitions=5)
            .select("k", "v_shift").collect())
        exp = dict(
            frame.select(
                "k", F.lag("v", n_shift).over(Window.orderBy("k")).alias("s"))
            .collect())
        assert got == exp

    def test_shift_larger_than_partition(self, spark):
        """|n| exceeding a range partition's row count must still resolve
        (the join formulation has no boundary assumption)."""
        df = spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "k long, v double")
        got = dict(global_shift(df, "k", "v", n=7, num_partitions=8)
                   .select("k", "v_shift").collect())
        exp = {i: (float(i - 7) if i >= 7 else None) for i in range(10)}
        assert got == exp


class TestGlobalNtile:
    @pytest.mark.parametrize("n", PARTS)
    @pytest.mark.parametrize("k", [1, 3, 7, 20, 1500])
    def test_matches_ntile(self, frame, n, k):
        got = dict(
            global_ntile(frame, "k", k, num_partitions=n)
            .select("k", "tile").collect())
        exp = dict(
            frame.select(
                "k", F.ntile(k).over(Window.orderBy("k")).alias("t"))
            .collect())
        assert got == exp


class TestRewiredCallers:
    def test_extensions_pc_matches_global_lag(self, spark):
        from pandas_plus_spark import extensions  # installs sugar  # noqa
        df = spark.createDataFrame(
            [(1, 10.0), (2, 12.0), (3, 9.0)], "t long, v double")
        got = {r.t: r.v_pc for r in extensions.pc(df, "v", "t").collect()}
        assert got[1] is None
        assert got[2] == pytest.approx(0.2)
        assert got[3] == pytest.approx(-0.25)

    def test_normalize_no_window(self, spark):
        from pandas_plus_spark import extensions
        df = spark.createDataFrame([(1.0,), (3.0,)], "v double")
        got = sorted(r.v_norm for r in extensions.normalize(df, "v").collect())
        assert got == [pytest.approx(0.25), pytest.approx(0.75)]
        plan = extensions.normalize(df, "v")._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Window" not in plan  # scalar agg + broadcast, not a window


#: one case per public operator of functions.ordered (grouped_rank once per
#: arm: all 'first', no 'first' and the dense tie numbering). Frame: k
#: order, g group, v/w values, t time.
_HANDLE_CASES = {
    "global_row_number": lambda o, d, n: o.global_row_number(
        d, "k", num_partitions=n),
    "global_cumsum": lambda o, d, n: o.global_cumsum(
        d, "k", "v", num_partitions=n),
    "global_rank_cumsum": lambda o, d, n: o.global_rank_cumsum(
        d, "k", "v", num_partitions=n),
    "global_shift": lambda o, d, n: o.global_shift(
        d, "k", "v", num_partitions=n),
    "global_ntile": lambda o, d, n: o.global_ntile(
        d, "k", 4, num_partitions=n),
    "global_ffill": lambda o, d, n: o.global_ffill(
        d, "k", "v", num_partitions=n),
    "global_rolling_sum": lambda o, d, n: o.global_rolling_sum(
        d, "k", "v", 3, num_partitions=n),
    "grouped_cumsum": lambda o, d, n: o.grouped_cumsum(
        d, "g", "k", "v", num_partitions=n),
    "grouped_row_number": lambda o, d, n: o.grouped_row_number(
        d, "g", "k", size="sz", num_partitions=n),
    "grouped_take": lambda o, d, n: o.grouped_take(
        d, "g", "k", [0, -1], num_partitions=n),
    "grouped_ffill": lambda o, d, n: o.grouped_ffill(
        d, "g", "k", "v", num_partitions=n),
    "grouped_cumminmax": lambda o, d, n: o.grouped_cumminmax(
        d, "g", "k", "v", num_partitions=n),
    "grouped_shift": lambda o, d, n: o.grouped_shift(
        d, "g", "k", "v", num_partitions=n),
    "grouped_expanding": lambda o, d, n: o.grouped_expanding(
        d, "g", "k", "v", stats=("mean", "var"), num_partitions=n),
    "grouped_rolling_sum": lambda o, d, n: o.grouped_rolling_sum(
        d, "g", "k", "v", 3, num_partitions=n),
    "grouped_rolling_mean": lambda o, d, n: o.grouped_rolling_mean(
        d, "g", "k", "v", 3, num_partitions=n),
    "grouped_rolling_var": lambda o, d, n: o.grouped_rolling_var(
        d, "g", "k", "v", 3, num_partitions=n),
    "grouped_rolling_stats": lambda o, d, n: o.grouped_rolling_stats(
        d, "g", "k", "v", 3, num_partitions=n),
    "grouped_rolling_cov": lambda o, d, n: o.grouped_rolling_cov(
        d, "g", "k", "v", "w", 3, num_partitions=n),
    "grouped_rolling_corr": lambda o, d, n: o.grouped_rolling_corr(
        d, "g", "k", "v", "w", 3, num_partitions=n),
    "grouped_rolling_time": lambda o, d, n: o.grouped_rolling_time(
        d, "g", "t", "v", 5.0, num_partitions=n),
    "grouped_rank[first]": lambda o, d, n: o.grouped_rank(
        d, "g", "k", "v", method="first", num_partitions=n),
    "grouped_rank[average]": lambda o, d, n: o.grouped_rank(
        d, "g", "k", "v", num_partitions=n),
    "grouped_rank[first+dense]": lambda o, d, n: o.grouped_rank(
        d, "g", "k", "v", num_partitions=n,
        methods=[("first", False, "r1"), ("dense", True, "r2")]),
}


class TestCacheHandlePropagation:
    """Every public operator pins its range-partitioned frame with
    persist(); a trailing join/withColumn/filter/drop returns a frame
    without the _pps_cached handle, so each operator must re-attach it —
    otherwise release_cached frees nothing and the pin holds whole-input
    storage until session end."""

    @pytest.fixture(scope="class")
    def hframe(self, spark):
        rows = [(i, ["a", "b", None][i % 3], float(i % 7) if i % 5 else None,
                 float(i % 4), float(i // 2)) for i in range(120)]
        return spark.createDataFrame(
            rows, "k long, g string, v double, w double, t double")

    def test_every_operator_has_a_case(self):
        import inspect

        import pandas_plus_spark.functions.ordered as o
        public = {name for name, f in vars(o).items()
                  if inspect.isfunction(f) and not name.startswith("_")
                  and f.__module__ == o.__name__}
        assert public == {c.split("[")[0] for c in _HANDLE_CASES}

    # a distinct num_partitions per case: Spark's CacheManager is keyed by
    # logical plan, so plan-identical intermediates of two cases would
    # share one cache entry and the first release would evict both — a
    # test artifact, not an operator bug
    @pytest.mark.parametrize("n, case", list(enumerate(_HANDLE_CASES, 2)),
                             ids=list(_HANDLE_CASES))
    def test_release_frees_the_pins(self, spark, hframe, n, case):
        import pandas_plus_spark.functions.ordered as o
        from pandas_plus_spark.util import release_cached
        cached = spark._jsparkSession.sharedState().cacheManager().cachedData
        before = cached().size()
        out = _HANDLE_CASES[case](o, hframe, n)
        handles = list(getattr(out, "_pps_cached", ()))
        assert handles, "result lost the handles of its pinned frames"
        out.count()

        def pinned(h):
            lvl = h.storageLevel
            return lvl.useMemory or lvl.useDisk

        assert any(pinned(h) for h in handles)
        release_cached(out)
        assert not any(pinned(h) for h in handles)
        assert cached().size() == before, "a pinned frame outlived release"


class TestGlobalRankCumsum:
    @pytest.mark.parametrize("n", PARTS)
    def test_fused_equals_chained(self, frame, n):
        from pandas_plus_spark.functions.ordered import global_rank_cumsum
        fused = {r["k"]: (r["rank"], r["c"]) for r in
                 global_rank_cumsum(frame, "k", "v", cum_out="c",
                                    num_partitions=n).collect()}
        rn = global_row_number(frame, "k", num_partitions=n)
        chained = global_cumsum(rn, "k", "v", num_partitions=n)
        exp = {r["k"]: (r["row_number"], r["cumsum"]) for r in chained.collect()}
        assert set(fused) == set(exp)
        for k in exp:
            assert fused[k][0] == exp[k][0], k
            assert fused[k][1] == pytest.approx(exp[k][1], rel=1e-12), k

    def test_desc_order_with_nulls_in_value(self, spark):
        from pandas_plus_spark.functions.ordered import global_rank_cumsum
        df = spark.createDataFrame(
            [(1, 2.0), (2, None), (3, 1.0)], "k long, v double")
        got = {r["k"]: (r["rank"], r["cumsum"]) for r in
               global_rank_cumsum(df, F.col("k").desc(), "v",
                                  num_partitions=2).collect()}
        assert got == {3: (1, 1.0), 2: (2, 1.0), 1: (3, 3.0)}


class TestGroupedCumsum:
    """grouped_cumsum = the per-group window, bit-for-bit, at any partition
    count — including groups that span many range partitions and NULL
    group keys (a group like any other)."""

    @pytest.fixture(scope="class")
    def gframe(self, spark):
        rows = []
        for i in range(1200):
            g = ["a", "b", None][i % 3] if i % 7 else None
            rows.append((i, g, float(i % 13) if i % 11 else None))
        return spark.createDataFrame(rows, "rid long, g string, v double")

    @pytest.mark.parametrize("n", PARTS)
    def test_matches_grouped_window(self, gframe, n):
        from pandas_plus_spark.functions.ordered import grouped_cumsum
        got = grouped_cumsum(gframe, ["g"], ["rid"], "v", out="c",
                             num_partitions=n)
        w = (Window.partitionBy("g").orderBy("rid")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        want = gframe.withColumn("c", F.sum("v").over(w))
        gm = {r.rid: r.c for r in got.collect()}
        wm = {r.rid: r.c for r in want.collect()}
        assert gm == wm

    def test_few_huge_groups_all_null_prefix(self, spark):
        # leading all-null prefix within a group must stay NULL, and a
        # 2-group frame must still spread over many range partitions
        from pandas_plus_spark.functions.ordered import grouped_cumsum
        rows = [(i, "g0" if i < 500 else "g1",
                 None if i % 500 < 3 else 1.0) for i in range(1000)]
        df = spark.createDataFrame(rows, "rid long, g string, v double")
        got = grouped_cumsum(df, ["g"], ["rid"], "v", out="c",
                             num_partitions=16)
        m = {r.rid: r.c for r in got.collect()}
        assert m[0] is None and m[1] is None and m[2] is None
        assert m[500] is None and m[502] is None
        assert m[3] == 1.0 and m[499] == 497.0
        assert m[999] == 497.0


class TestGroupedFfill:
    """grouped_ffill = the per-group last-non-null window, bit-for-bit, at
    any partition count — groups spanning many range partitions, NULL group
    keys, all-null partitions in the middle of a group."""

    @pytest.fixture(scope="class")
    def fframe(self, spark):
        rows = []
        for i in range(1200):
            g = ["a", "b", None][i % 3] if i % 7 else None
            # long null runs so fills must cross partition boundaries
            rows.append((i, g, float(i) if i % 17 == 0 else None))
        return spark.createDataFrame(rows, "rid long, g string, v double")

    @pytest.mark.parametrize("n", PARTS)
    def test_matches_grouped_window(self, fframe, n):
        from pandas_plus_spark.functions.ordered import grouped_ffill
        got = grouped_ffill(fframe, ["g"], ["rid"], "v", out="f",
                            num_partitions=n)
        w = (Window.partitionBy("g").orderBy("rid")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        want = fframe.withColumn("f", F.last("v", ignorenulls=True).over(w))
        gm = {r.rid: r.f for r in got.collect()}
        wm = {r.rid: r.f for r in want.collect()}
        assert gm == wm

    def test_all_null_prefix_and_span(self, spark):
        from pandas_plus_spark.functions.ordered import grouped_ffill
        # one observation at rid=700 in a 2-group frame over 16 range
        # partitions: every g1 row before it NULL, every one after 700.0;
        # whole partitions between observations are all-null and must be
        # skipped by the carry
        rows = [(i, "g0" if i < 500 else "g1",
                 700.0 if i == 700 else (5.0 if i == 5 else None))
                for i in range(1000)]
        df = spark.createDataFrame(rows, "rid long, g string, v double")
        m = {r.rid: r.f for r in grouped_ffill(
            df, ["g"], ["rid"], "v", out="f", num_partitions=16).collect()}
        assert m[0] is None and m[4] is None
        assert m[5] == 5.0 and m[499] == 5.0
        assert m[500] is None and m[699] is None
        assert m[700] == 700.0 and m[999] == 700.0

    @pytest.mark.parametrize("n", PARTS)
    def test_backward_matches_grouped_window(self, fframe, n):
        from pandas_plus_spark.functions.ordered import grouped_ffill
        got = grouped_ffill(fframe, ["g"], ["rid"], "v", out="f",
                            num_partitions=n, backward=True)
        w = (Window.partitionBy("g").orderBy("rid")
             .rowsBetween(Window.currentRow, Window.unboundedFollowing))
        want = fframe.withColumn("f", F.first("v", ignorenulls=True).over(w))
        gm = {r.rid: r.f for r in got.collect()}
        wm = {r.rid: r.f for r in want.collect()}
        assert gm == wm


class TestGroupedRowNumberTake:
    """grouped_row_number/grouped_take = the per-group ranking window,
    bit-for-bit, at any partition count — groups spanning many range
    partitions, NULL group keys, negative/out-of-range positions."""

    @pytest.fixture(scope="class")
    def gframe(self, spark):
        rows = [(i, ["a", "b", None][i % 3] if i % 11 else None, float(i))
                for i in range(1500)]
        return spark.createDataFrame(rows, "rid long, g string, v double")

    @pytest.mark.parametrize("n", PARTS)
    def test_row_number_matches_window(self, gframe, n):
        from pandas_plus_spark.functions.ordered import grouped_row_number
        got = grouped_row_number(gframe, ["g"], ["rid"], out="rn",
                                 size="sz", num_partitions=n)
        w = Window.partitionBy("g").orderBy("rid")
        wc = Window.partitionBy("g")
        want = (gframe.withColumn("rn", F.row_number().over(w))
                .withColumn("sz", F.count(F.lit(1)).over(
                    wc.rowsBetween(Window.unboundedPreceding,
                                   Window.unboundedFollowing))))
        gm = {r.rid: (r.rn, r.sz) for r in got.collect()}
        wm = {r.rid: (r.rn, r.sz) for r in want.collect()}
        assert gm == wm

    @pytest.mark.parametrize("n", [2, 16])
    def test_take_matches_groupby_take(self, gframe, n, spark):
        from pandas_plus_spark.functions.ordered import grouped_take
        from pandas_plus_spark import GroupBy
        pos = [0, 2, -1, -3, 10_000]  # out-of-range position must drop
        got = grouped_take(gframe, ["g"], ["rid"], pos, num_partitions=n)
        # GroupBy.take is pandas dropna=True; the ordered family keeps the
        # NULL group (SQL PARTITION BY convention) — compare on the
        # non-null side, then pin the NULL group against the window form
        want = GroupBy(gframe, "g", order_by="rid").take(pos)
        gs = sorted(r.rid for r in got.filter(F.col("g").isNotNull()).collect())
        ws = sorted(r.rid for r in want.collect())
        assert gs == ws and len(gs) > 0
        w = Window.partitionBy("g").orderBy("rid")
        wd = Window.partitionBy("g").orderBy(F.col("rid").desc())
        wref = (gframe.withColumn("rn", F.row_number().over(w))
                .withColumn("rb", F.row_number().over(wd))
                .filter(F.col("rn").isin([1, 3]) | F.col("rb").isin([1, 3]))
                .filter(F.col("g").isNull()))
        assert (sorted(r.rid for r in got.filter(F.col("g").isNull()).collect())
                == sorted(r.rid for r in wref.collect()))

    def test_single_row_groups(self, spark):
        from pandas_plus_spark.functions.ordered import grouped_take
        df = spark.createDataFrame(
            [(i, f"g{i}", float(i)) for i in range(40)],
            "rid long, g string, v double")
        # every group has exactly one row: positions 0 and -1 both hit it,
        # dedup through the OR filter keeps it once
        got = grouped_take(df, ["g"], ["rid"], [0, -1], num_partitions=8)
        assert sorted(r.rid for r in got.collect()) == list(range(40))


class TestGroupedRolling:
    """grouped_rolling_sum/mean = the per-group trailing window, at any
    partition count — windows spanning range-partition boundaries, nulls
    inside frames, min_periods gating, window larger than a partition."""

    @pytest.fixture(scope="class")
    def rframe(self, spark):
        rows = [(i, ["a", "b", None][i % 3],
                 float(i % 17) if i % 5 else None) for i in range(900)]
        return spark.createDataFrame(rows, "rid long, g string, v double")

    @pytest.mark.parametrize("n", PARTS)
    @pytest.mark.parametrize("window,mp", [(5, None), (5, 2), (40, 10)])
    def test_matches_window_form(self, rframe, n, window, mp):
        from pandas_plus_spark.functions.ordered import grouped_rolling_sum
        got = grouped_rolling_sum(rframe, ["g"], ["rid"], "v", window,
                                  min_periods=mp, out="r", num_partitions=n)
        w = (Window.partitionBy("g").orderBy("rid")
             .rowsBetween(-(window - 1), Window.currentRow))
        mp_eff = window if mp is None else mp
        want = rframe.withColumn(
            "r", F.when(F.count("v").over(w) >= mp_eff, F.sum("v").over(w)))
        gm = {r.rid: r.r for r in got.collect()}
        wm = {r.rid: r.r for r in want.collect()}
        assert set(gm) == set(wm)
        for k in wm:
            if wm[k] is None:
                assert gm[k] is None, k
            else:
                assert gm[k] == pytest.approx(wm[k], rel=1e-12, abs=1e-9), k

    @pytest.mark.parametrize("n", PARTS)
    def test_fused_stats_match_single_ops(self, rframe, n):
        """grouped_rolling_stats = the chained single-stat operators from
        ONE running pass: sum/mean/var/std/count all agree with the
        window form."""
        from pandas_plus_spark.functions.ordered import grouped_rolling_stats
        got = grouped_rolling_stats(
            rframe, ["g"], ["rid"], "v", 7,
            stats=(("sum", "s"), ("mean", "m"), ("var", "vv"),
                   ("std", "sd"), ("count", "c")),
            min_periods=3, num_partitions=n)
        w = (Window.partitionBy("g").orderBy("rid")
             .rowsBetween(-6, Window.currentRow))
        guard = F.count("v").over(w) >= 3
        want = (rframe
                .withColumn("s", F.when(guard, F.sum("v").over(w)))
                .withColumn("m", F.when(guard, F.avg("v").over(w)))
                .withColumn("vv", F.when(guard & (F.count("v").over(w) > 1),
                                         F.var_samp("v").over(w)))
                .withColumn("sd", F.when(guard & (F.count("v").over(w) > 1),
                                         F.stddev_samp("v").over(w)))
                .withColumn("c", F.when(guard, F.count("v").over(w))))
        gm = {r.rid: r for r in got.collect()}
        wm = {r.rid: r for r in want.collect()}
        assert set(gm) == set(wm)
        for k in wm:
            for c in ("s", "m", "vv", "sd", "c"):
                a, b = gm[k][c], wm[k][c]
                if b is None:
                    assert a is None, (k, c)
                else:
                    assert a == pytest.approx(b, rel=1e-9, abs=1e-9), (k, c)

    def test_mean_matches_window_form(self, rframe):
        from pandas_plus_spark.functions.ordered import grouped_rolling_mean
        got = grouped_rolling_mean(rframe, ["g"], ["rid"], "v", 7,
                                   min_periods=3, out="r", num_partitions=8)
        w = (Window.partitionBy("g").orderBy("rid")
             .rowsBetween(-6, Window.currentRow))
        want = rframe.withColumn(
            "r", F.when(F.count("v").over(w) >= 3, F.avg("v").over(w)))
        gm = {r.rid: r.r for r in got.collect()}
        wm = {r.rid: r.r for r in want.collect()}
        for k in wm:
            if wm[k] is None:
                assert gm[k] is None, k
            else:
                assert gm[k] == pytest.approx(wm[k], rel=1e-12, abs=1e-9), k

    def test_validation_and_empty(self, spark):
        from pandas_plus_spark.functions.ordered import grouped_rolling_sum
        e = spark.createDataFrame([], "rid long, g string, v double")
        assert grouped_rolling_sum(e, ["g"], ["rid"], "v", 3).count() == 0
        with pytest.raises(ValueError, match="window"):
            grouped_rolling_sum(e, ["g"], ["rid"], "v", 0)


class TestGroupedShift:
    @pytest.mark.parametrize("n_parts", [2, 16])
    @pytest.mark.parametrize("n_shift", [1, 5, -3])
    def test_matches_lag_window(self, spark, n_parts, n_shift):
        from pandas_plus_spark.functions.ordered import grouped_shift
        rows = [(i, ["a", "b", None][i % 3], float(i)) for i in range(600)]
        df = spark.createDataFrame(rows, "rid long, g string, v double")
        got = grouped_shift(df, ["g"], ["rid"], "v", n=n_shift, out="s",
                            num_partitions=n_parts)
        w = Window.partitionBy("g").orderBy("rid")
        want = df.withColumn("s", F.lag("v", n_shift).over(w))
        gm = {r.rid: r.s for r in got.collect()}
        wm = {r.rid: r.s for r in want.collect()}
        assert gm == wm


class TestGroupedExpanding:
    @pytest.mark.parametrize("n", [2, 16])
    def test_matches_window_form(self, spark, n):
        from pandas_plus_spark.functions.ordered import grouped_expanding
        rows = [(i, ["a", "b"][i % 2], float(i % 23) if i % 6 else None)
                for i in range(800)]
        df = spark.createDataFrame(rows, "rid long, g string, v double")
        got = grouped_expanding(df, ["g"], ["rid"], "v",
                                stats=("mean", "var", "std"),
                                min_periods=3, num_partitions=n)
        w = (Window.partitionBy("g").orderBy("rid")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        guard = F.count("v").over(w) >= 3
        want = (df.withColumn("m", F.when(guard, F.avg("v").over(w)))
                .withColumn("s2", F.when(guard, F.var_samp("v").over(w)))
                .withColumn("s", F.when(guard, F.stddev_samp("v").over(w))))
        gm = {r.rid: (r.v_expanding_mean, r.v_expanding_var, r.v_expanding_std)
              for r in got.collect()}
        wm = {r.rid: (r.m, r.s2, r.s) for r in want.collect()}
        for k in wm:
            for a, b in zip(gm[k], wm[k]):
                if b is None:
                    assert a is None, k
                else:
                    assert a == pytest.approx(b, rel=1e-9, abs=1e-9), k

    def test_validation_and_empty(self, spark):
        from pandas_plus_spark.functions.ordered import grouped_expanding
        e = spark.createDataFrame([], "rid long, g string, v double")
        assert grouped_expanding(e, ["g"], ["rid"], "v").count() == 0
        with pytest.raises(ValueError, match="unsupported"):
            grouped_expanding(e, ["g"], ["rid"], "v", stats=("median",))


class TestGroupedRollingVar:
    @pytest.mark.parametrize("n", [2, 16])
    @pytest.mark.parametrize("std", [False, True])
    def test_matches_window_form(self, spark, n, std):
        from pandas_plus_spark.functions.ordered import grouped_rolling_var
        rows = [(i, ["a", "b"][i % 2], float(i % 19) if i % 6 else None)
                for i in range(700)]
        df = spark.createDataFrame(rows, "rid long, g string, v double")
        got = grouped_rolling_var(df, ["g"], ["rid"], "v", 9, min_periods=3,
                                  std=std, out="r", num_partitions=n)
        w = (Window.partitionBy("g").orderBy("rid")
             .rowsBetween(-8, Window.currentRow))
        agg = F.stddev_samp("v") if std else F.var_samp("v")
        want = df.withColumn(
            "r", F.when(F.count("v").over(w) >= 3, agg.over(w)))
        gm = {r.rid: r.r for r in got.collect()}
        wm = {r.rid: r.r for r in want.collect()}
        for k in wm:
            if wm[k] is None:
                assert gm[k] is None, k
            else:
                assert gm[k] == pytest.approx(wm[k], rel=1e-9, abs=1e-9), k


class TestGroupedCumMinMax:
    @pytest.mark.parametrize("n", PARTS)
    @pytest.mark.parametrize("op", ["min", "max"])
    def test_matches_window_form(self, spark, n, op):
        from pandas_plus_spark.functions.ordered import grouped_cumminmax
        rows = [(i, ["a", None][i % 2],
                 float((i * 13) % 101) if i % 6 else None)
                for i in range(800)]
        df = spark.createDataFrame(rows, "rid long, g string, v double")
        got = grouped_cumminmax(df, ["g"], ["rid"], "v", op=op, out="m",
                                num_partitions=n)
        w = (Window.partitionBy("g").orderBy("rid")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        agg = F.min("v") if op == "min" else F.max("v")
        want = df.withColumn("m", agg.over(w))
        gm = {r.rid: r.m for r in got.collect()}
        wm = {r.rid: r.m for r in want.collect()}
        assert gm == wm

    def test_validation(self, spark):
        from pandas_plus_spark.functions.ordered import grouped_cumminmax
        e = spark.createDataFrame([], "rid long, g string, v double")
        assert grouped_cumminmax(e, ["g"], ["rid"], "v").count() == 0
        with pytest.raises(ValueError, match="op"):
            grouped_cumminmax(e, ["g"], ["rid"], "v", op="sum")


class TestGroupedRank:
    """grouped_rank = GroupBy.rank (pandas methods), at any partition
    count, over heavy ties and nulls."""

    @pytest.fixture(scope="class")
    def kframe(self, spark):
        rows = [(i, ["a", "b"][i % 2],
                 float((i * 7) % 6) if i % 5 else None)  # heavy ties + nulls
                for i in range(600)]
        return spark.createDataFrame(rows, "rid long, g string, v double")

    @pytest.mark.parametrize("n", [2, 16])
    @pytest.mark.parametrize("method", ["average", "min", "max", "first",
                                        "dense"])
    @pytest.mark.parametrize("asc", [True, False])
    def test_matches_groupby_rank(self, kframe, n, method, asc):
        from pandas_plus_spark.functions.ordered import grouped_rank
        from pandas_plus_spark import GroupBy
        got = grouped_rank(kframe, ["g"], ["rid"], "v", method=method,
                           ascending=asc, out="r", num_partitions=n)
        want = GroupBy(kframe, "g", order_by="rid").rank(
            "v", method=method, ascending=asc)
        gm = {r.rid: r.r for r in got.collect()}
        wm = {r.rid: r.v_rank for r in want.collect()}
        assert gm == wm

    @pytest.mark.parametrize("method", ["average", "dense"])
    def test_pct_matches_groupby_rank(self, kframe, method):
        from pandas_plus_spark.functions.ordered import grouped_rank
        from pandas_plus_spark import GroupBy
        got = grouped_rank(kframe, ["g"], ["rid"], "v", method=method,
                           pct=True, out="r", num_partitions=8)
        want = GroupBy(kframe, "g", order_by="rid").rank(
            "v", method=method, pct=True)
        gm = {r.rid: r.r for r in got.collect()}
        wm = {r.rid: r.v_rank for r in want.collect()}
        for k in wm:
            if wm[k] is None:
                assert gm[k] is None, k
            else:
                assert gm[k] == pytest.approx(wm[k], rel=1e-12), k


class TestGroupedRollingTime:
    """grouped_rolling_time = the range-frame window, at any partition
    count — duplicate timestamps (peer rows), boundary rows at exactly
    on − window, null values, min_periods gating."""

    @pytest.fixture(scope="class")
    def tframe(self, spark):
        # irregular timestamps with DUPLICATES (i//3 repeats 3x) and nulls
        rows = [(i, ["a", "b"][i % 2],
                 float((i // 3) * 7 % 50),
                 float(i % 11) if i % 5 else None) for i in range(600)]
        return spark.createDataFrame(rows, "rid long, g string, ts double, v double")

    @pytest.mark.parametrize("n", [2, 16])
    @pytest.mark.parametrize("window", [0, 7, 100])
    def test_matches_range_frame(self, tframe, n, window):
        from pandas_plus_spark.functions.ordered import grouped_rolling_time
        from pandas_plus_spark import GroupBy
        got = grouped_rolling_time(
            tframe, ["g"], "ts", "v", window,
            funcs=("sum", "mean", "count", "var", "std"),
            min_periods=2, num_partitions=n)
        want = GroupBy(tframe, "g", order_by="rid").rolling_time(
            ["v"], on="ts", window=window,
            funcs=("sum", "mean", "count", "var", "std"), min_periods=2)
        gm = {r.rid: (r.v_tsum, r.v_tmean, r.v_tcount, r.v_tvar, r.v_tstd)
              for r in got.collect()}
        wm = {r.rid: (r.v_tsum, r.v_tmean, r.v_tcount, r.v_tvar, r.v_tstd)
              for r in want.collect()}
        assert set(gm) == set(wm)
        for k in wm:
            for a, b in zip(gm[k], wm[k]):
                if b is None:
                    assert a is None, (k, window, gm[k], wm[k])
                else:
                    assert a == pytest.approx(b, rel=1e-9, abs=1e-9), \
                        (k, window)

    def test_validation(self, spark):
        from pandas_plus_spark.functions.ordered import grouped_rolling_time
        e = spark.createDataFrame([], "rid long, g string, ts double, v double")
        assert grouped_rolling_time(e, ["g"], "ts", "v", 5.0).count() == 0
        with pytest.raises(ValueError, match="supports"):
            grouped_rolling_time(e, ["g"], "ts", "v", 5.0, funcs=("min",))


class TestGlobalFillRolling:
    @pytest.mark.parametrize("n", [1, 8])
    def test_global_ffill_matches_window(self, spark, n):
        from pandas_plus_spark.functions.ordered import global_ffill
        rows = [(i, float(i) if i % 4 == 0 else None) for i in range(300)]
        df = spark.createDataFrame(rows, "rid long, v double")
        got = {r.rid: r.f for r in global_ffill(
            df, ["rid"], "v", out="f", num_partitions=n).collect()}
        w = (Window.orderBy("rid")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        want = {r.rid: r.f for r in df.withColumn(
            "f", F.last("v", ignorenulls=True).over(w)).collect()}
        assert got == want

    def test_global_rolling_matches_window(self, spark):
        from pandas_plus_spark.functions.ordered import global_rolling_sum
        rows = [(i, float(i % 13) if i % 5 else None) for i in range(300)]
        df = spark.createDataFrame(rows, "rid long, v double")
        got = {r.rid: r.r for r in global_rolling_sum(
            df, ["rid"], "v", 10, min_periods=2, out="r",
            num_partitions=8).collect()}
        w = Window.orderBy("rid").rowsBetween(-9, Window.currentRow)
        want = {r.rid: r.r for r in df.withColumn(
            "r", F.when(F.count("v").over(w) >= 2,
                        F.sum("v").over(w))).collect()}
        for k in want:
            if want[k] is None:
                assert got[k] is None, k
            else:
                assert got[k] == pytest.approx(want[k], rel=1e-12), k


class TestGroupedRankMultiMethod:
    def test_methods_list_equals_individual_calls(self, spark):
        from pandas_plus_spark.functions.ordered import grouped_rank
        rows = [(i, ["a", "b"][i % 2], float((i * 7) % 6) if i % 5 else None)
                for i in range(400)]
        df = spark.createDataFrame(rows, "rid long, g string, v double")
        one = grouped_rank(
            df, ["g"], ["rid"], "v", num_partitions=8,
            methods=[("average", False, "ra"), ("max", False, "rm"),
                     ("dense", True, "rd"), ("first", False, "rf")])
        got = {r.rid: (r.ra, r.rm, r.rd, r.rf) for r in one.collect()}
        sep = {}
        for m, p, o in (("average", False, "ra"), ("max", False, "rm"),
                        ("dense", True, "rd"), ("first", False, "rf")):
            res = grouped_rank(df, ["g"], ["rid"], "v", method=m, pct=p,
                               out=o, num_partitions=8)
            for r in res.collect():
                sep.setdefault(r.rid, []).append(getattr(r, o))
        for k, vals in sep.items():
            for a, b in zip(got[k], vals):
                if b is None:
                    assert a is None, k
                else:
                    assert a == pytest.approx(b, rel=1e-12), k


class TestResolvePartitions:
    """num_partitions=None tracks DATA at both ends (r13): small frames
    get few range partitions (task dispatch dominated below ~256 KiB per
    partition), mid frames cap at defaultParallelism, and frames whose
    per-core share would exceed ~512 MiB grow past core count."""

    def test_explicit_passthrough(self, spark):
        from pandas_plus_spark.functions import ordered as O
        df = spark.range(10)
        assert O._resolve_partitions(df, 7) == 7

    def test_small_frame_floors_at_two(self, spark):
        from pandas_plus_spark.functions import ordered as O
        # ~80 bytes estimated — carries must still cross a boundary
        assert O._resolve_partitions(spark.range(10), None) == 2

    def test_tracks_bytes_then_caps_at_cores(self, spark):
        from pandas_plus_spark.functions import ordered as O
        par = spark.sparkContext.defaultParallelism
        # spark.range rows are 8 bytes each in Catalyst's estimate:
        # 100k rows ≈ 800 KiB -> ceil(800K/256K) = 4 partitions
        assert O._resolve_partitions(spark.range(100_000), None) == 4
        # 1e8 rows ≈ 800 MB -> want is huge but 800 MB / par stays under
        # the 512 MiB per-partition bound, so cap = defaultParallelism
        assert O._resolve_partitions(spark.range(100_000_000), None) == par

    def test_huge_frame_outgrows_core_cap(self, spark):
        from pandas_plus_spark.functions import ordered as O
        # 10^12 rows ≈ 8 TB estimated: 512 MiB partitions need far more
        # than defaultParallelism tasks
        n = O._resolve_partitions(spark.range(1_000_000_000_000), None)
        assert n == -(-8_000_000_000_000 // O._RANGE_MAX_PARTITION_BYTES)
        assert n > spark.sparkContext.defaultParallelism

    def test_unknown_stats_fall_back_to_cores(self, spark):
        from pandas_plus_spark.functions import ordered as O
        e = spark.createDataFrame([], "rid long, v double")
        assert O._resolve_partitions(e, None) == \
            spark.sparkContext.defaultParallelism
