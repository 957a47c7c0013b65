"""GroupBy engine semantics, modeled on the reference test strategy
(SURVEY.md §5): oracle comparisons, null semantics, mask matrix, margins."""

import pyspark.sql.functions as F
import pytest

from pandas_plus_spark import GroupBy


def rows_dict(df, key, val):
    return {r[key]: r[val] for r in df.collect()}


class TestBasicAggs:
    def test_sum_drops_null_keys(self, nullable_df):
        out = GroupBy(nullable_df, "key").sum("val")
        d = rows_dict(out, "key", "val")
        # null key (rid 6) excluded, reference numba.py:441-443 semantics
        assert None not in d
        assert d == {1: 3, 2: 4, 3: 6, 6: 12}

    def test_dropna_false_keeps_null_key(self, nullable_df):
        out = GroupBy(nullable_df, "key", dropna=False).sum("val")
        d = rows_dict(out, "key", "val")
        assert d[None] == 3

    def test_sum_skips_null_values(self, nullable_df):
        d = rows_dict(GroupBy(nullable_df, "key").sum("fval"), "key", "fval")
        assert d[1] == pytest.approx(0.1 + 3.0)  # two NULL fvals skipped

    def test_count_vs_size(self, nullable_df):
        cnt = rows_dict(GroupBy(nullable_df, "key").count("val"), "key", "val")
        size = rows_dict(GroupBy(nullable_df, "key").size(), "key", "size")
        assert cnt[3] == 1 and size[3] == 2  # null val not counted; size counts rows

    def test_mask_equals_prefilter(self, nullable_df):
        masked = rows_dict(
            GroupBy(nullable_df, "key").sum("val", mask=F.col("mask")), "key", "val")
        filtered = rows_dict(
            GroupBy(nullable_df.filter("mask"), "key").sum("val"), "key", "val")
        for k, v in filtered.items():
            assert masked[k] == v
        # fully-masked groups are DROPPED by default (reference core.py:704-717)
        assert 1 not in masked
        kept = rows_dict(
            GroupBy(nullable_df, "key").sum("val", mask=F.col("mask"),
                                            observed_only=False), "key", "val")
        assert 1 in kept and kept[1] is None

    def test_observed_only_false_completes_combos(self, spark):
        df = spark.createDataFrame(
            [("a", 1, 1.0), ("a", 2, 2.0), ("b", 1, 3.0)], "k1 string, k2 long, v double")
        out = GroupBy(df, ["k1", "k2"]).sum("v", observed_only=False)
        d = {(r["k1"], r["k2"]): r["v"] for r in out.collect()}
        assert d[("b", 2)] is None  # unobserved combo materialized
        assert len(d) == 4

    def test_mean_min_max(self, nullable_df):
        g = GroupBy(nullable_df, "key")
        mean = rows_dict(g.mean("val"), "key", "val")
        assert mean[1] == pytest.approx((-1 + 0 + 3 + 1) / 4)
        assert rows_dict(g.min("val"), "key", "val")[1] == -1
        assert rows_dict(g.max("val"), "key", "val")[1] == 3

    def test_var_ddof(self, nullable_df):
        g = GroupBy(nullable_df, "key")
        import statistics
        vals = [-1, 0, 3, 1]
        assert rows_dict(g.var("val"), "key", "val")[1] == pytest.approx(
            statistics.variance(vals))
        assert rows_dict(g.var("val", ddof=0), "key", "val")[1] == pytest.approx(
            statistics.pvariance(vals))
        n, m = len(vals), sum(vals) / len(vals)
        manual2 = sum((v - m) ** 2 for v in vals) / (n - 2)
        assert rows_dict(g.var("val", ddof=2), "key", "val")[1] == pytest.approx(manual2)

    def test_first_last_non_null_ordered(self, nullable_df):
        g = GroupBy(nullable_df, "key", order_by="rid")
        first = rows_dict(g.first("fval"), "key", "fval")
        last = rows_dict(g.last("fval"), "key", "fval")
        # key 1 rows in rid order: 0.1, NULL, 3.0, NULL → first 0.1, last 3.0
        assert first[1] == pytest.approx(0.1)
        assert last[1] == pytest.approx(3.0)

    def test_first_requires_order(self, nullable_df):
        with pytest.raises(ValueError, match="order_by"):
            GroupBy(nullable_df, "key").first("val")

    def test_agg_multi_single_pass(self, nullable_df):
        out = GroupBy(nullable_df, "key").agg({
            "s": ("sum", "val"),
            "m": ("mean", "fval"),
            "n": ("size", ""),
        })
        assert set(out.columns) == {"key", "s", "m", "n"}
        assert out.count() == 4

    def test_values_none_selects_numeric(self, nullable_df):
        out = GroupBy(nullable_df, "key").sum()
        # rid/val/fval numeric + mask boolean; key excluded
        assert set(out.columns) == {"key", "rid", "val", "fval", "mask"}


class TestDerivedAggs:
    def test_ratio(self, nullable_df):
        d = rows_dict(GroupBy(nullable_df, "key").ratio("val", "rid"), "key", "ratio")
        assert d[6] == pytest.approx(12 / 8)

    def test_density_sums_to_100(self, nullable_df):
        rows = GroupBy(nullable_df, "key").density("fval").collect()
        assert sum(r["density"] for r in rows) == pytest.approx(100.0)

    def test_value_counts_normalize(self, nullable_df):
        rows = GroupBy(nullable_df, "key").value_counts(normalize=True).collect()
        assert sum(r["proportion"] for r in rows) == pytest.approx(1.0)

    def test_transform_shape(self, nullable_df):
        out = GroupBy(nullable_df, "key").sum("val", transform=True)
        assert out.count() == 8  # null-key row dropped
        d = {r["rid"]: r["val_sum"] for r in out.collect()}
        assert d[0] == 3 and d[3] == 3  # both key-1 rows see group total

    def test_margins(self, nullable_df):
        out = GroupBy(nullable_df, "key").agg({"s": ("sum", "val")}, margins=True)
        d = rows_dict(out, "key", "s")
        assert d["All"] == 3 + 4 + 6 + 12
        assert d["1"] == 3

    def test_margins_per_level(self, spark):
        # reference F9-style 2-key margin frame: margins on ONE level only
        df = spark.createDataFrame(
            [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 4.0)],
            "k1 string, k2 string, v double")
        out = GroupBy(df, ["k1", "k2"]).agg({"s": ("sum", "v")}, margins=["k2"])
        d = {(r["k1"], r["k2"]): r["s"] for r in out.collect()}
        # cells + per-k1 "All" rows; NO (All, *) rows since k1 not in levels
        assert d[("a", "All")] == 3.0 and d[("b", "All")] == 4.0
        assert ("All", "All") not in d and ("All", "x") not in d
        assert len(d) == 5

        both = GroupBy(df, ["k1", "k2"]).agg({"s": ("sum", "v")}, margins=["k1", "k2"])
        db = {(r["k1"], r["k2"]): r["s"] for r in both.collect()}
        assert db[("All", "All")] == 7.0 and db[("All", "x")] == 5.0

    def test_column_expression_key(self, nullable_df):
        out = GroupBy(nullable_df, F.col("key") % 2).sum("val")
        d = rows_dict(out, "_key_0", "val")
        # keys 1,3 odd → -1+0+3+1+6=9... vals: key1 rows sum 3, key3 sum 6 → 9
        assert d[1] == 9 and d[0] == 4 + 12

    def test_empty_input(self, spark):
        df = spark.createDataFrame([], "k string, v double")
        assert GroupBy(df, "k").sum("v").count() == 0
        assert GroupBy(df, "k", order_by="v").cumsum("v").count() == 0


class TestApplyAndRollingFacade:
    def test_apply_grouped_map(self, spark):
        import pandas as pd
        df = spark.createDataFrame(
            [(0, "a", 1.0), (1, "a", 3.0), (2, "b", 10.0)], "rid long, k string, v double")

        def demean(pdf):
            out = pdf[["rid", "k"]].copy()
            out["v_dm"] = pdf["v"] - pdf["v"].mean()
            return out

        got = {r["rid"]: r["v_dm"] for r in GroupBy(df, "k").apply(
            demean, "rid long, k string, v_dm double").collect()}
        assert got == {0: -1.0, 1: 1.0, 2: 0.0}

    def test_apply_sorts_by_order(self, spark):
        df = spark.createDataFrame(
            [(1, "a", 5.0), (0, "a", 1.0)], "rid long, k string, v double")

        def first_val(pdf):
            return pdf.iloc[:1][["k", "v"]]

        out = GroupBy(df, "k", order_by="rid").apply(
            first_val, "k string, v double").collect()
        assert out[0]["v"] == 1.0  # rid order, not arrival order

    def test_rolling_facade(self, spark):
        df = spark.createDataFrame(
            [(0, 0, 1.0), (1, 0, 2.0), (2, 0, 3.0)], "rid long, k long, v double")
        r = GroupBy(df, "k", order_by="rid").rolling(2, min_periods=1)
        d = {x["rid"]: x["v_rolling_sum"] for x in r.sum("v").collect()}
        assert [d[i] for i in range(3)] == [1.0, 3.0, 5.0]
        d = {x["rid"]: x["v_rolling_mean"] for x in r.agg("mean", "v").collect()}
        assert d[2] == 2.5


class TestRowSelection:
    def test_salted_head_matches_plain(self, spark):
        import random
        random.seed(42)
        rows = [(i, random.randint(0, 3), random.random()) for i in range(500)]
        df = spark.createDataFrame(rows, "rid long, k long, v double")
        g = GroupBy(df, "k", order_by="rid")
        plain = {(r["k"], r["rid"]) for r in g.head(5).collect()}
        salted = {(r["k"], r["rid"]) for r in g.head(5, salt=8).collect()}
        assert plain == salted
        t_plain = {(r["k"], r["rid"]) for r in g.tail(3).collect()}
        t_salted = {(r["k"], r["rid"]) for r in g.tail(3, salt=8).collect()}
        assert t_plain == t_salted

    def test_approx_nunique(self, tables):
        li = tables["lineitem"]
        exact = {r["l_returnflag"]: r["l_partkey"]
                 for r in GroupBy(li, "l_returnflag").nunique("l_partkey").collect()}
        approx = {r["l_returnflag"]: r["l_partkey"]
                  for r in GroupBy(li, "l_returnflag").nunique("l_partkey", approx=True).collect()}
        for k in exact:
            assert abs(approx[k] - exact[k]) / exact[k] < 0.1

    def test_unknown_value_column_friendly_error(self, tables):
        with pytest.raises(ValueError, match="not in DataFrame"):
            GroupBy(tables["lineitem"], "l_returnflag").sum("no_such_col")

    def test_head_tail_nth(self, spark):
        import pandas as pd
        pdf = pd.DataFrame({
            "key": list("AAABBCCCC"),
            "val": range(1, 10),
            "rid": range(9),
        })
        df = spark.createDataFrame(pdf)
        g = GroupBy(df, "key", order_by="rid")
        heads = {(r["key"], r["val"]) for r in g.head(2).collect()}
        assert heads == {("A", 1), ("A", 2), ("B", 4), ("B", 5), ("C", 6), ("C", 7)}
        tails = {(r["key"], r["val"]) for r in g.tail(1).collect()}
        assert tails == {("A", 3), ("B", 5), ("C", 9)}
        nth1 = {(r["key"], r["val"]) for r in g.nth(1).collect()}
        assert nth1 == {("A", 2), ("B", 5), ("C", 7)}
        # out-of-bounds dropped (reference core.py:1493-1518)
        assert {(r["key"], r["val"]) for r in g.nth(3).collect()} == {("C", 9)}
        nth_neg = {(r["key"], r["val"]) for r in g.nth(-2).collect()}
        assert nth_neg == {("A", 2), ("B", 4), ("C", 8)}


class TestReferenceParityRound2:
    """Semantics pinned in round 2: callable agg dispatch, full-cube margins,
    size() on fully-masked groups, order-independent dsum."""

    def test_agg_callable_resolution(self, nullable_df):
        # reference resolves callables by __name__ (core.py:1210-1213):
        # gb.agg(np.sum) runs the native sum kernel.
        import numpy as np
        d = rows_dict(GroupBy(nullable_df, "key").agg({"s": (np.sum, "val")}),
                      "key", "s")
        assert d == {1: 3, 2: 4, 3: 6, 6: 12}
        out2 = GroupBy(nullable_df, "key").agg({"val": np.mean})
        assert "val_mean" in out2.columns
        out3 = GroupBy(nullable_df, "key").agg({"val": [np.nansum, "max"]})
        assert {"val_sum", "val_max"} <= set(out3.columns)

    def test_agg_unknown_callable_raises(self, nullable_df):
        with pytest.raises(ValueError, match="unknown aggregation"):
            GroupBy(nullable_df, "key").agg({"s": ((lambda x: x), "val")})

    def test_margins_true_is_full_cube(self, spark):
        # reference add_row_margin(levels=None) emits 'All' rows for EVERY
        # level and their combinations (core.py:1994-2051) — not a rollup.
        df = spark.createDataFrame(
            [("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 4.0)],
            "k1 string, k2 string, v double")
        out = GroupBy(df, ["k1", "k2"]).agg({"s": ("sum", "v")}, margins=True)
        d = {(r["k1"], r["k2"]): r["s"] for r in out.collect()}
        assert d[("All", "x")] == 5.0  # the row a rollup omits
        assert d[("a", "All")] == 3.0
        assert d[("All", "All")] == 7.0
        assert len(d) == 3 + 2 + 2 + 1  # cells + k1-All + k2-All + grand

    def test_size_keeps_fully_masked_groups(self, nullable_df):
        # reference core.py:704-717 exempts size() from observed_only drops:
        # a fully-masked group reports 0.
        d = rows_dict(GroupBy(nullable_df, "key").size(mask=F.col("mask")),
                      "key", "size")
        assert d[1] == 0
        assert d[2] == 1

    def test_dsum_matches_sum(self, nullable_df):
        g = GroupBy(nullable_df, "key")
        d = rows_dict(g.agg({"s": ("dsum", "fval")}), "key", "s")
        e = rows_dict(g.agg({"s": ("sum", "fval")}), "key", "s")
        assert set(d) == set(e)
        for k, v in e.items():
            assert d[k] == pytest.approx(v)


class TestByResolutionAndStatics:
    """Reference api.py:739-805 by= forms with a Spark analog, the
    groupby_method static call form (core.py:107-143), and group iteration
    (api.py:207-210)."""

    def test_callable_key(self, nullable_df):
        # callable → derived Column (the reference applies callables to the
        # index; the Spark analog derives the key from the row)
        out = GroupBy(nullable_df, lambda df: F.col("key") % 2).sum("val")
        d = rows_dict(out, "_key_0", "val")
        assert d[1] == 9 and d[0] == 16

    def test_array_key_zips_positionally(self, spark):
        import numpy as np
        df = spark.createDataFrame(
            [(0, 1.0), (1, 2.0), (2, 4.0), (3, 8.0)], "rid long, v double")
        arr = np.array(["a", "a", "b", "b"])
        d = rows_dict(GroupBy(df, arr).sum("v"), "_key_0", "v")
        assert d == {"a": 3.0, "b": 12.0}

    def test_array_key_multipartition_order_and_plan(self, spark):
        # the zip path must (a) number rows in physical order across MANY
        # input partitions and (b) never plan a single-task global window
        # (Exchange SinglePartition) — the rows flow through a window
        # PARTITIONED by input partition id instead
        import numpy as np
        from pandas_plus_spark.groupby.core import _zip_array_key
        df = spark.range(0, 1000, 1, 8).withColumn(
            "v", (F.col("id") % 7).cast("double"))
        arr = np.arange(1000) // 100  # 10 positional buckets
        zipped = _zip_array_key(df, arr, "_key_0")
        plan = zipped._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan, plan
        # positional correctness: row i (in id order — spark.range's
        # physical order) gets bucket i // 100
        got = {r["id"]: r["_key_0"] for r in zipped.collect()}
        assert got == {i: i // 100 for i in range(1000)}

    def test_array_key_on_persisted_upstream(self, spark):
        # r15 ADVICE regression pin: the session enables
        # canChangeCachedPlanOutputPartitioning (AQE may re-size a cached
        # plan's output partitions), and the zip path's positional
        # reconstruction (spark_partition_id + monotonically_increasing_id)
        # assumes a cached frame's physical layout is FIXED once
        # materialized. Exercise the zip on a persisted, shuffled upstream
        # and check the key assignment matches the frame's own physical
        # (pid, mid) order observed by an independent job — a Spark upgrade
        # that re-plans cached output per-consumer would break this.
        import numpy as np
        from pandas_plus_spark.groupby.core import _zip_array_key
        assert spark.conf.get(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") \
            == "true"
        up = (spark.range(0, 400, 1, 8)
              .withColumn("v", (F.col("id") % 5).cast("double"))
              .repartition(16, "id").persist())
        up.count()  # materialize the cache
        try:
            rows = up.select(
                "id", F.spark_partition_id().alias("p"),
                F.monotonically_increasing_id().alias("m")).collect()
            order = [r["id"]
                     for r in sorted(rows, key=lambda r: (r["p"], r["m"]))]
            arr = np.arange(400) % 4
            zipped = _zip_array_key(up, arr, "_key_0")
            got = {r["id"]: r["_key_0"] for r in zipped.collect()}
            assert got == {order[i]: arr[i] for i in range(400)}
        finally:
            up.unpersist()

    def test_topk_exact_on_persisted_upstream(self, spark):
        # second pid-dependent op (r15 ADVICE): the two-stage top-k keys
        # stage 1 on spark_partition_id. Its RESULT is layout-independent
        # (the global top-k is contained in every union of per-partition
        # top-ks), so on a persisted shuffled upstream it must equal the
        # brute-force answer whatever AQE did to the cached partitioning.
        from pandas_plus_spark.operators.similarity import _topk_per_query
        sims = (spark.range(0, 900, 1, 8)
                .select((F.col("id") % 9).alias("query_id"),
                        F.col("id").alias("neighbor_id"),
                        ((F.col("id") * 37 % 101) / 101.0).alias("cos_sim"))
                .repartition(16).persist())
        sims.count()
        try:
            got = sorted(
                (r["query_id"], r["rank"], r["neighbor_id"])
                for r in _topk_per_query(sims, 3).collect())
            import pandas as pd
            pdf = sims.toPandas()
            want = []
            for q, g in pdf.groupby("query_id"):
                g = g.sort_values(["cos_sim", "neighbor_id"],
                                  ascending=[False, True]).head(3)
                want += [(q, i + 1, n)
                         for i, n in enumerate(g.neighbor_id)]
            assert got == sorted(want)
        finally:
            sims.unpersist()

    def test_array_key_length_mismatch_raises(self, spark):
        import numpy as np
        df = spark.createDataFrame([(0, 1.0), (1, 2.0)], "rid long, v double")
        with pytest.raises(ValueError, match="Length of grouper"):
            GroupBy(df, np.array([1, 2, 3])).sum("v")

    def test_mixed_keys(self, nullable_df):
        out = GroupBy(nullable_df, ["key", lambda df: F.col("rid") % 2]).size()
        assert out.count() > 0

    def test_static_call_form(self, nullable_df):
        # GroupBy.sum(df, keys, values) == GroupBy(df, keys).sum(values)
        got = rows_dict(GroupBy.sum(nullable_df, "key", "val"), "key", "val")
        exp = rows_dict(GroupBy(nullable_df, "key").sum("val"), "key", "val")
        assert got == exp
        got_m = rows_dict(
            GroupBy.mean(nullable_df, "key", "val", mask=F.col("mask")),
            "key", "val")
        exp_m = rows_dict(
            GroupBy(nullable_df, "key").mean("val", mask=F.col("mask")),
            "key", "val")
        assert got_m == exp_m
        # ordered statics take order_by=
        f = GroupBy.first(nullable_df, "key", "val", order_by="rid")
        assert rows_dict(f, "key", "val")[1] == -1

    def test_static_agg(self, nullable_df):
        out = GroupBy.agg(nullable_df, "key", {"s": ("sum", "val")})
        assert rows_dict(out, "key", "s")[6] == 12

    def test_iteration_yields_key_and_frame(self, nullable_df):
        with pytest.warns(RuntimeWarning, match="parity shim"):
            groups = dict(iter(GroupBy(nullable_df, "key")))
        assert set(groups) == {1, 2, 3, 6}
        assert groups[3].count() == 2

    def test_ngroups(self, nullable_df):
        assert GroupBy(nullable_df, "key").ngroups() == 4

    def test_facade_iteration_and_ngroups(self, nullable_df):
        from pandas_plus_spark.groupby.api import DataFrameGroupBy
        gb = DataFrameGroupBy(nullable_df, "key")
        assert gb.ngroups == 4
        with pytest.warns(RuntimeWarning):
            keys = [k for k, _ in gb]
        assert keys == [1, 2, 3, 6]

    def test_facade_forwards_newer_aggs(self, nullable_df):
        # mode/quantile/corr/cov/rolling_var/std joined _FORWARDED after the
        # engine grew them; the facade must not AttributeError on any of them
        from pandas_plus_spark.groupby.api import DataFrameGroupBy
        gb = DataFrameGroupBy(nullable_df, "key")
        assert gb.mode("val").count() > 0
        assert gb.quantile("val", q=0.5).count() > 0
        assert gb.corr("val", "val").count() > 0
        assert gb.cov("val", "val").count() > 0
        # selection binding still applies to single-column aggs
        assert gb["val"].quantile(q=0.5).count() > 0
        # and corr/cov bypass it (explicit two-column signature)
        assert gb["val"].corr("val", "val").count() > 0
        ordered = DataFrameGroupBy(nullable_df, "key", order_by="rid")
        assert ordered.rolling_var("val", window=2).count() > 0
        assert ordered.rolling_std("val", window=2).count() > 0


class TestFindFirstLastN:
    def test_find_first_last_n(self, spark):
        df = spark.createDataFrame(
            [(10, "a", 1), (11, "a", 2), (12, "a", 3), (13, "b", 1), (14, "b", 2)],
            "rid long, k string, o long")
        g = GroupBy(df, "k", order_by="o")
        first = {r["k"]: r["row_ids"] for r in g.find_first_n("rid", 2).collect()}
        assert first == {"a": [10, 11], "b": [13, 14]}
        last = {r["k"]: r["row_ids"] for r in g.find_last_n("rid", 2).collect()}
        assert last == {"a": [11, 12], "b": [13, 14]}  # ascending row order

    def test_find_first_n_masked(self, spark):
        df = spark.createDataFrame(
            [(10, "a", 1), (11, "a", 2), (12, "a", 3)], "rid long, k string, o long")
        out = GroupBy(df, "k", order_by="o").find_first_n(
            "rid", 2, mask=F.col("o") > 1)
        assert out.collect()[0]["row_ids"] == [11, 12]


class TestQuantileCorrCov:
    @pytest.fixture(scope="class")
    def qdf(self, spark):
        rows = [
            ("a", 1.0, 2.0), ("a", 2.0, 4.0), ("a", 3.0, 5.0), ("a", 4.0, 9.0),
            ("b", 10.0, -10.0), ("b", 20.0, -20.0),
            ("c", 7.0, None),
        ]
        return spark.createDataFrame(rows, "k string, x double, y double")

    def test_quantile_interpolation(self, qdf):
        out = {r["k"]: r for r in
               GroupBy(qdf, "k").quantile("x", q=[0.25, 0.5]).collect()}
        # percentile_cont on [1,2,3,4]: q0.25 = 1.75, median 2.5
        assert out["a"]["x_q0_25"] == pytest.approx(1.75)
        assert out["a"]["x_q0_5"] == pytest.approx(2.5)
        assert out["b"]["x_q0_5"] == pytest.approx(15.0)

    def test_quantile_mask(self, qdf):
        out = {r["k"]: r for r in
               GroupBy(qdf, "k").quantile("x", q=0.5,
                                          mask=F.col("x") > 1.5).collect()}
        assert out["a"]["x_q0_5"] == pytest.approx(3.0)  # over [2,3,4]

    def test_quantile_requires_q_in_spec(self, qdf):
        with pytest.raises(ValueError, match="requires q="):
            GroupBy(qdf, "k").agg({"p": ("quantile", "x")}).collect()

    def test_corr_and_cov(self, qdf):
        import numpy as np
        c = {r["k"]: r["corr"] for r in GroupBy(qdf, "k").corr("x", "y").collect()}
        xs, ys = [1, 2, 3, 4], [2, 4, 5, 9]
        assert c["a"] == pytest.approx(np.corrcoef(xs, ys)[0, 1])
        assert c["b"] == pytest.approx(-1.0)
        assert c["c"] is None  # no complete pair
        v = {r["k"]: r["cov"] for r in GroupBy(qdf, "k").cov("x", "y").collect()}
        assert v["a"] == pytest.approx(np.cov(xs, ys, ddof=1)[0, 1])
        vp = {r["k"]: r["cov"] for r in
              GroupBy(qdf, "k").cov("x", "y", ddof=0).collect()}
        assert vp["a"] == pytest.approx(np.cov(xs, ys, ddof=0)[0, 1])

    def test_corr_mask_drops_pairwise(self, qdf):
        c = {r["k"]: r["corr"] for r in
             GroupBy(qdf, "k").corr("x", "y", mask=F.col("x") < 4).collect()}
        import numpy as np
        assert c["a"] == pytest.approx(np.corrcoef([1, 2, 3], [2, 4, 5])[0, 1])

    def test_agg_spec_forms(self, qdf):
        out = {r["k"]: r for r in GroupBy(qdf, "k").agg({
            "p50": ("quantile", "x", {"q": 0.5}),
            "r": ("corr", ("x", "y")),
        }).collect()}
        assert out["a"]["p50"] == pytest.approx(2.5)
        assert out["b"]["r"] == pytest.approx(-1.0)

    def test_quantile_via_agg_in_one_pass_with_others(self, qdf):
        out = {r["k"]: r for r in GroupBy(qdf, "k").agg({
            "s": ("sum", "x"),
            "p25": ("quantile", "x", {"q": 0.25}),
        }).collect()}
        assert out["a"]["s"] == 10.0 and out["a"]["p25"] == pytest.approx(1.75)


class TestModeAndRollingVar:
    def test_mode_deterministic_ties(self, spark):
        rows = [("a", 1), ("a", 1), ("a", 2), ("a", 2), ("a", 3),
                ("b", 9), ("b", None)]
        df = spark.createDataFrame(rows, "k string, v long")
        out = {r["k"]: r["v_mode"] for r in GroupBy(df, "k").mode("v").collect()}
        # tie 1 vs 2 (both count 2) → smallest wins
        assert out == {"a": 1, "b": 9}

    def test_mode_string_and_mask(self, spark):
        rows = [("a", "x"), ("a", "y"), ("a", "y"), ("a", "z")]
        df = spark.createDataFrame(rows, "k string, s string")
        out = GroupBy(df, "k").mode("s").collect()[0]
        assert out["s_mode"] == "y"
        masked = GroupBy(df, "k").mode("s", mask=F.col("s") != "y").collect()[0]
        assert masked["s_mode"] == "x"  # tie x/z → smallest

    def test_mode_multi_column(self, spark):
        rows = [("a", 1, "p"), ("a", 1, "q"), ("a", 2, "q")]
        df = spark.createDataFrame(rows, "k string, v long, s string")
        out = GroupBy(df, "k").mode(["v", "s"]).collect()[0]
        assert out["v_mode"] == 1 and out["s_mode"] == "q"

    def test_rolling_var_std(self, spark):
        df = spark.createDataFrame(
            [(0, 0, 1.0), (1, 0, 2.0), (2, 0, 4.0), (3, 0, None)],
            "rid long, k long, v double")
        g = GroupBy(df, "k", order_by="rid")
        var = {r["rid"]: r["v_rolling_var"]
               for r in g.rolling_var("v", window=2).collect()}
        assert var[0] is None
        assert var[1] == pytest.approx(0.5)
        assert var[2] == pytest.approx(2.0)
        assert var[3] is None  # (4, NULL): 1 non-null < min_periods
        std = {r["rid"]: r["v_rolling_std"]
               for r in g.rolling_std("v", window=2, min_periods=2).collect()}
        assert std[1] == pytest.approx(0.5 ** 0.5)

    def test_rolling_var_mask_excludes_from_buffer(self, spark):
        rows = [(0, 0, 1.0, True), (1, 0, 100.0, False), (2, 0, 3.0, True)]
        df = spark.createDataFrame(rows, "rid long, k long, v double, m boolean")
        out = {r["rid"]: r["v_rolling_var"] for r in
               GroupBy(df, "k", order_by="rid")
               .rolling_var("v", window=2, mask=F.col("m")).collect()}
        # obs = [1, 3]; masked row emits value as of last obs
        assert out[2] == pytest.approx(2.0)
        assert out[1] is None  # only 1 obs so far


class TestHierarchicalExactSum:
    """r4: dsum_scaled (fine level, scaled-long buffers) + dsum_unscale
    (coarse level, exact decimal) must reproduce dsum exactly while keeping
    the fact-sized aggregation in long arithmetic."""

    @pytest.fixture(scope="class")
    def money_df(self, spark):
        import random
        rng = random.Random(7)
        rows = [(i % 40, i % 800,
                 round(rng.uniform(-5e4, 9e4), 2) * (1 + 0.0001 * (i % 13)))
                for i in range(20_000)]
        return spark.createDataFrame(rows, "coarse long, fine long, v double")

    def test_two_level_equals_dsum(self, money_df):
        direct = rows_dict(
            GroupBy(money_df, "coarse").agg({"s": ("dsum", "v")}), "coarse", "s")
        per = GroupBy(money_df, ["coarse", "fine"]).agg(
            {"sv": ("dsum_scaled", "v")})
        two = rows_dict(
            GroupBy(per, "coarse").agg({"s": ("dsum_unscale", "sv")}),
            "coarse", "s")
        assert set(direct) == set(two)
        for k in direct:
            # both are exact sums of the same 1e-6-grain quantized values
            assert two[k] == pytest.approx(direct[k], abs=2e-6)

    def test_partition_order_invariance(self, money_df):
        def run(df):
            per = GroupBy(df, ["coarse", "fine"]).agg({"sv": ("dsum_scaled", "v")})
            return rows_dict(
                GroupBy(per, "coarse").agg({"s": ("dsum_unscale", "sv")}),
                "coarse", "s")
        a = run(money_df.repartition(3))
        b = run(money_df.repartition(37, "fine"))
        assert a == b  # bit-identical, not approx

    def test_scaled_long_is_long_buffer(self, money_df):
        per = GroupBy(money_df, ["coarse", "fine"]).agg(
            {"sv": ("dsum_scaled", "v")})
        assert dict(per.dtypes)["sv"] == "bigint"
        plan = per._jdf.queryExecution().executedPlan().toString()
        assert "decimal" not in plan.lower()


class TestFilterGroups:
    """GroupBy.filter_groups — pandas GroupBy.filter, declaratively."""

    def test_matches_pandas_filter(self, spark):
        import pandas as pd
        pdf = pd.DataFrame({
            "k": ["a", "a", "b", "b", "b", "c", None],
            "v": [1.0, 2.0, 10.0, 20.0, 30.0, 5.0, 99.0],
        })
        sdf = spark.createDataFrame(pdf)
        got = sorted(r.v for r in GroupBy(sdf, "k").filter_groups(
            F.sum("v") > 6).collect())
        want = sorted(pdf.dropna(subset=["k"]).groupby("k")
                      .filter(lambda g: g.v.sum() > 6).v.tolist())
        assert got == want

    def test_dropna_false_keeps_qualifying_null_group(self, spark):
        sdf = spark.createDataFrame(
            [("a", 1.0), (None, 50.0), (None, 60.0)], "k string, v double")
        out = GroupBy(sdf, "k", dropna=False).filter_groups(F.sum("v") > 100)
        assert sorted(r.v for r in out.collect()) == [50.0, 60.0]
        # and with dropna=True the null group is gone regardless
        out2 = GroupBy(sdf, "k", dropna=True).filter_groups(F.sum("v") > 100)
        assert out2.count() == 0

    def test_compound_predicate_and_facade_alias(self, spark):
        from pandas_plus_spark.groupby.api import DataFrameGroupBy
        sdf = spark.createDataFrame(
            [("a", 1.0), ("a", 2.0), ("b", 100.0)], "k string, v double")
        out = DataFrameGroupBy(sdf, "k").filter(
            (F.count(F.lit(1)) >= 2) & (F.avg("v") < 10))
        assert sorted(r.v for r in out.collect()) == [1.0, 2.0]

    def test_plan_is_semi_join_no_cartesian(self, spark):
        from pandas_plus_spark.plans import plan_stats, plan_text
        sdf = spark.createDataFrame(
            [("a", 1.0), ("b", 2.0)], "k string, v double")
        out = GroupBy(sdf, "k").filter_groups(F.sum("v") > 1)
        s = plan_stats(out)
        assert s["cartesian_products"] == 0
        assert "LeftSemi" in plan_text(out)


class TestIdxMaxMinPctChange:
    def test_idxmax_idxmin_match_pandas(self, spark):
        import pandas as pd
        pdf = pd.DataFrame({
            "k": ["a", "a", "a", "b", "b", "c"],
            "rid": [10, 11, 12, 20, 21, 30],
            "v": [5.0, 9.0, 9.0, None, 3.0, None],  # tie in a; all-null c? no: c single null
        }).set_index("rid")
        sdf = spark.createDataFrame(pdf.reset_index())
        got_mx = {r.k: r.v_idxmax for r in
                  GroupBy(sdf, "k").idxmax("v", id_col="rid").collect()}
        got_mn = {r.k: r.v_idxmin for r in
                  GroupBy(sdf, "k").idxmin("v", id_col="rid").collect()}
        want_mx = pdf.groupby("k").v.idxmax(skipna=True)
        want_mn = pdf.groupby("k").v.idxmin(skipna=True)
        for k in ("a", "b"):
            assert got_mx[k] == want_mx[k], k   # tie -> first occurrence (11)
            assert got_mn[k] == want_mn[k], k
        assert got_mx["c"] is None and got_mn["c"] is None  # all-null group

    def test_pct_change_matches_pandas(self, spark):
        import pandas as pd
        pdf = pd.DataFrame({
            "k": ["a", "a", "a", "b", "b"],
            "rid": [0, 1, 2, 3, 4],
            "v": [2.0, 4.0, 3.0, 10.0, 5.0],
        })
        sdf = spark.createDataFrame(pdf)
        out = GroupBy(sdf, "k", order_by="rid").pct_change("v")
        got = {r.rid: r.v_pct_change for r in out.collect()}
        want = pdf.sort_values("rid").groupby("k").v.pct_change()
        for rid in pdf.rid:
            w = want[pdf.index[pdf.rid == rid][0]]
            g = got[rid]
            if pd.isna(w):
                assert g is None
            else:
                assert abs(g - w) < 1e-12

    def test_pct_change_masked_observation_semantics(self, spark):
        # masked row emits NULL and is skipped as a lag source (inherits
        # shift's observation-only contract)
        sdf = spark.createDataFrame(
            [(0, "a", 2.0, True), (1, "a", 100.0, False), (2, "a", 4.0, True)],
            "rid long, k string, v double, m boolean")
        out = GroupBy(sdf, "k", order_by="rid").pct_change("v", mask=F.col("m"))
        got = {r.rid: r.v_pct_change for r in out.collect()}
        assert got[0] is None
        assert got[1] is None              # masked row: no output
        assert abs(got[2] - 1.0) < 1e-12   # 4 vs 2 (skips the masked 100)


class TestProdAnyAll:
    def test_match_pandas(self, spark):
        import pandas as pd
        pdf = pd.DataFrame({
            "k": ["a", "a", "b", "b", "c"],
            "v": [2.0, 3.0, None, None, 0.0],
            "b": [True, False, None, None, True],
        })
        sdf = spark.createDataFrame(pdf)
        gp = {r.k: r.v for r in GroupBy(sdf, "k").prod("v").collect()}
        ga = {r.k: r.v for r in GroupBy(sdf, "k").any("v").collect()}
        gl = {r.k: r.v for r in GroupBy(sdf, "k").all("v").collect()}
        pp = pdf.groupby("k").v.prod()
        pa = pdf.groupby("k").v.any()
        pl = pdf.groupby("k").v.all()
        for k in ("a", "b", "c"):
            assert gp[k] == pp[k], ("prod", k)   # b: all-null -> 1.0
            assert ga[k] == pa[k], ("any", k)    # b: vacuous -> False
            assert gl[k] == pl[k], ("all", k)    # c: 0.0 -> False
        # boolean column: truthiness passthrough incl. all-null group
        ba = {r.k: r.b for r in GroupBy(sdf, "k").any("b").collect()}
        bl = {r.k: r.b for r in GroupBy(sdf, "k").all("b").collect()}
        assert ba == {"a": True, "b": False, "c": True}
        assert bl == {"a": False, "b": True, "c": True}

    def test_masked_and_static_form(self, spark):
        import pyspark.sql.functions as F
        sdf = spark.createDataFrame(
            [("a", 2.0), ("a", 50.0), ("b", 3.0)], "k string, v double")
        out = {r.k: r.v for r in
               GroupBy(sdf, "k").prod("v", mask=F.col("v") < 10).collect()}
        assert out == {"a": 2.0, "b": 3.0}
        stat = {r.k: r.v for r in GroupBy.any(sdf, "k", "v").collect()}
        assert stat == {"a": True, "b": True}


class TestSem:
    def test_matches_pandas_and_ddof(self, spark):
        import math
        import pandas as pd
        pdf = pd.DataFrame({"k": ["a"]*4 + ["b"]*2,
                            "v": [1.0, 2.0, 4.0, 9.0, 3.0, None]})
        sdf = spark.createDataFrame(pdf)
        got = {r.k: r.v for r in GroupBy(sdf, "k").sem("v").collect()}
        want = pdf.groupby("k").v.sem()
        assert abs(got["a"] - want["a"]) < 1e-12
        if got["b"] is None:
            assert pd.isna(want["b"])  # single-obs group: NaN both sides
        else:
            assert abs(got["b"] - want["b"]) < 1e-12
        # generalized ddof (reference var/std accept any ddof)
        g2 = {r.k: r.v for r in GroupBy(sdf, "k").sem("v", ddof=2).collect()}
        xs = [1.0, 2.0, 4.0, 9.0]
        n = len(xs); m = sum(xs)/n
        var2 = sum((x-m)**2 for x in xs)/(n-2)
        assert abs(g2["a"] - math.sqrt(var2)/math.sqrt(n)) < 1e-12

class TestSkewKurt:
    def test_matches_pandas(self, spark):
        import pandas as pd
        pdf = pd.DataFrame({
            "k": ["a"]*5 + ["b"]*4 + ["c"]*3 + ["d"]*2 + ["e"]*4,
            "v": [1.0, 2.0, 4.0, 9.0, 3.5,        # generic
                  2.0, 2.0, 7.0, None,            # null skipped -> n=3
                  5.0, 5.0, 5.0,                  # zero variance
                  1.0, 8.0,                       # n=2 -> NULL (skew)
                  3.0, 3.0, 3.0, 3.0],            # zero variance, n=4
        })
        sdf = spark.createDataFrame(pdf)
        gs = {r.k: r.v for r in GroupBy(sdf, "k").skew("v").collect()}
        gk = {r.k: r.v for r in GroupBy(sdf, "k").kurt("v").collect()}
        ps = pdf.groupby("k").v.skew()
        pk = pdf.groupby("k").v.apply(lambda s: s.kurt())
        for k in "abcde":
            if gs[k] is None:
                assert pd.isna(ps[k]), ("skew", k)
            else:
                assert abs(gs[k] - ps[k]) < 1e-9, ("skew", k)
            if gk[k] is None:
                assert pd.isna(pk[k]), ("kurt", k)
            else:
                assert abs(gk[k] - pk[k]) < 1e-9, ("kurt", k)

    def test_alias_mask_static(self, spark):
        import pandas as pd
        import pyspark.sql.functions as F
        pdf = pd.DataFrame({"k": ["a"]*6,
                            "v": [1.0, 2.0, 4.0, 9.0, 3.5, 100.0]})
        sdf = spark.createDataFrame(pdf)
        got = GroupBy(sdf, "k").skew("v", mask=F.col("v") < 50).collect()[0].v
        want = pdf[pdf.v < 50].groupby("k").v.skew()["a"]
        assert abs(got - want) < 1e-9
        stat = GroupBy.kurtosis(sdf, "k", "v").collect()[0].v
        assert abs(stat - pdf.groupby("k").v.apply(lambda s: s.kurt())["a"]) < 1e-9

class TestNgroup:
    def test_matches_pandas(self, spark):
        import pandas as pd
        pdf = pd.DataFrame({"k": ["b", "a", None, "a", "c"],
                            "o": [0, 1, 2, 3, 4], "v": range(5)})
        sdf = spark.createDataFrame(pdf)
        # dropna=True: null-key rows are absent (the family's drop
        # convention; pandas keeps them as NaN)
        got = {r.o: r.ngroup for r in GroupBy(sdf, "k").ngroup().collect()}
        want = pdf.groupby("k").ngroup()
        assert got == {0: 1, 1: 0, 3: 0, 4: 2}
        assert {o: int(want[o]) for o in got} == got
        # dropna=False: null key sorts last
        g2 = {r.o: r.ngroup for r in
              GroupBy(sdf, "k", dropna=False).ngroup().collect()}
        assert g2 == dict(enumerate(pdf.groupby("k", dropna=False).ngroup()))
        # ascending=False reverses labels
        g3 = {r.o: r.ngroup for r in
              GroupBy(sdf, "k").ngroup(ascending=False).collect()}
        assert g3 == {0: 1, 1: 2, 3: 2, 4: 0}

    def test_sort_false_first_appearance(self, spark):
        import pandas as pd
        pdf = pd.DataFrame({"k": ["b", "a", "b", "c"], "o": [0, 1, 2, 3]})
        sdf = spark.createDataFrame(pdf)
        got = {r.o: r.ngroup for r in
               GroupBy(sdf, "k", sort=False, order_by="o").ngroup().collect()}
        assert got == dict(enumerate(pdf.groupby("k", sort=False).ngroup()))
        import pytest as _pt
        with _pt.raises(ValueError, match="order_by"):
            GroupBy(sdf, "k", sort=False).ngroup()


class TestFill:
    def _frame(self):
        import pandas as pd
        return pd.DataFrame({
            "k": ["a"]*6 + ["b"]*3,
            "o": list(range(6)) + list(range(3)),
            "v": [1.0, None, None, 4.0, None, None, None, 7.0, None],
        })

    def test_ffill_bfill_match_pandas(self, spark):
        pdf = self._frame()
        sdf = spark.createDataFrame(pdf)
        g = GroupBy(sdf, "k", order_by="o")
        gf = {(r.k, r.o): r.v_ffill for r in g.ffill("v").collect()}
        gb = {(r.k, r.o): r.v_bfill for r in g.bfill("v").collect()}
        pf = pdf.groupby("k").v.ffill()
        pb = pdf.groupby("k").v.bfill()
        import pandas as pd
        for i, (k, o) in enumerate(zip(pdf.k, pdf.o)):
            for got, want in ((gf[(k, o)], pf[i]), (gb[(k, o)], pb[i])):
                if got is None:
                    assert pd.isna(want)
                else:
                    assert got == want

    def test_limit(self, spark):
        import pandas as pd
        pdf = self._frame()
        sdf = spark.createDataFrame(pdf)
        g = GroupBy(sdf, "k", order_by="o")
        gf = {(r.k, r.o): r.v_ffill for r in g.ffill("v", limit=1).collect()}
        pf = pdf.groupby("k").v.ffill(limit=1)
        for i, (k, o) in enumerate(zip(pdf.k, pdf.o)):
            if gf[(k, o)] is None:
                assert pd.isna(pf[i]), (k, o)
            else:
                assert gf[(k, o)] == pf[i], (k, o)

    def test_masked_rows_pass_through(self, spark):
        import pyspark.sql.functions as F
        sdf = spark.createDataFrame(
            [("a", 0, 1.0), ("a", 1, 9.0), ("a", 2, None), ("a", 3, None)],
            "k string, o int, v double")
        # o=1 masked out: it neither donates (o=2 fills from o=0) nor
        # receives; its own value survives untouched
        out = {r.o: r.v_ffill for r in
               GroupBy(sdf, "k", order_by="o")
               .ffill("v", mask=F.col("o") != 1).collect()}
        assert out == {0: 1.0, 1: 9.0, 2: 1.0, 3: 1.0}

class TestOhlcDescribe:
    def test_ohlc_matches_pandas(self, spark):
        import pandas as pd
        pdf = pd.DataFrame({
            "k": ["a"]*4 + ["b"]*2,
            "o": [0, 1, 2, 3, 0, 1],
            "v": [3.0, 9.0, 1.0, 5.0, 2.0, 8.0],
        })
        sdf = spark.createDataFrame(pdf)
        got = {r.k: (r.v_open, r.v_high, r.v_low, r.v_close)
               for r in GroupBy(sdf, "k", order_by="o").ohlc("v").collect()}
        want = pdf.groupby("k").v.ohlc()
        for k in ("a", "b"):
            assert got[k] == tuple(want.loc[k, ["open", "high", "low", "close"]])

    def test_describe_matches_pandas(self, spark):
        import pandas as pd
        pdf = pd.DataFrame({"k": ["a"]*5 + ["b"]*3,
                            "v": [1.0, 2.0, 4.0, 9.0, 3.0, 5.0, None, 7.0]})
        sdf = spark.createDataFrame(pdf)
        row = {r.k: r for r in GroupBy(sdf, "k").describe("v").collect()}
        want = pdf.groupby("k").v.describe()
        for k in ("a", "b"):
            r = row[k]
            assert r.v_count == want.loc[k, "count"]
            assert abs(r.v_mean - want.loc[k, "mean"]) < 1e-12
            assert abs(r.v_std - want.loc[k, "std"]) < 1e-12
            assert r.v_min == want.loc[k, "min"]
            assert abs(r.v_q0_25 - want.loc[k, "25%"]) < 1e-12
            assert abs(r.v_q0_5 - want.loc[k, "50%"]) < 1e-12
            assert abs(r.v_q0_75 - want.loc[k, "75%"]) < 1e-12
            assert r.v_max == want.loc[k, "max"]


class TestNlargest:
    def test_matches_pandas_and_ties(self, spark):
        import pandas as pd
        pdf = pd.DataFrame({
            "k": ["a"]*5 + ["b"]*3,
            "o": list(range(5)) + list(range(3)),
            "v": [5.0, 9.0, 9.0, 1.0, None, 2.0, 8.0, 3.0],
        })
        sdf = spark.createDataFrame(pdf)
        g = GroupBy(sdf, "k", order_by="o")
        top = sorted((r.k, r.o, r.v) for r in g.nlargest(2, "v").collect())
        # ties at 9.0 keep the earlier o (pandas keep='first'); NULL excluded
        assert top == [("a", 1, 9.0), ("a", 2, 9.0), ("b", 1, 8.0), ("b", 2, 3.0)]
        bot = sorted((r.k, r.o, r.v) for r in g.nsmallest(2, "v").collect())
        assert bot == [("a", 0, 5.0), ("a", 3, 1.0), ("b", 0, 2.0), ("b", 2, 3.0)]
        # pandas equivalence on values
        want = pdf.groupby("k").v.nlargest(2)
        assert sorted(v for _, _, v in top) == sorted(want.tolist())

    def test_salted_equals_plain(self, spark):
        import pandas as pd
        import numpy as np
        rng = np.random.default_rng(7)
        pdf = pd.DataFrame({
            "k": rng.choice(["x", "y"], 500),
            "o": np.arange(500),
            "v": rng.random(500),
        })
        sdf = spark.createDataFrame(pdf)
        g = GroupBy(sdf, "k", order_by="o")
        plain = sorted((r.k, r.o) for r in g.nlargest(5, "v").collect())
        salted = sorted((r.k, r.o) for r in g.nlargest(5, "v", salt=8).collect())
        assert plain == salted

class TestResample:
    def test_matches_pandas(self, spark):
        import pandas as pd
        import numpy as np
        rng = np.random.default_rng(3)
        ts = pd.Timestamp("2024-01-01") + pd.to_timedelta(
            rng.integers(0, 72 * 3600, 300), unit="s")
        pdf = pd.DataFrame({"k": rng.choice(["a", "b"], 300),
                            "ts": ts, "v": rng.random(300)})
        sdf = spark.createDataFrame(pdf)
        out = GroupBy(sdf, "k").resample("ts", "1h").sum("v")
        got = {(r.k, r.ts_bucket): r.v for r in out.collect()}
        # pandas resample emits empty buckets; ours are observed-only, so
        # compare against the equivalent floor-bucket groupby (identical
        # to resample on every observed bucket)
        want = pdf.groupby(["k", pdf.ts.dt.floor("1h")]).v.sum()
        assert len(got) == len(want)
        for (k, b), v in want.items():
            assert abs(got[(k, b.to_pydatetime())] - v) < 1e-9, (k, b)

    def test_freq_aliases_and_chain(self, spark):
        sdf = spark.createDataFrame(
            [("a", "2024-01-01 00:10:00", 1.0),
             ("a", "2024-01-01 00:20:00", 2.0),
             ("a", "2024-01-01 00:40:00", 4.0)],
            "k string, ts string, v double")
        sdf = sdf.withColumn("ts", F.col("ts").cast("timestamp"))
        out = GroupBy(sdf, "k").resample("ts", "30min").agg(
            {"total": ("sum", "v"), "n": ("size", "")})
        rows = sorted((r.ts_bucket.minute, r.total, r.n) for r in out.collect())
        assert rows == [(0, 3.0, 2), (30, 4.0, 1)]
        import pytest as _pt
        with _pt.raises(ValueError, match="freq"):
            GroupBy(sdf, "k").resample("ts", "half an hour")

class TestExpanding:
    def test_matches_pandas(self, spark):
        import pandas as pd
        import numpy as np
        rng = np.random.default_rng(5)
        pdf = pd.DataFrame({
            "k": rng.choice(["a", "b"], 60),
            "o": np.arange(60),
            "v": np.where(rng.random(60) < 0.15, np.nan, rng.random(60)),
        })
        sdf = spark.createDataFrame(pdf)
        g = GroupBy(sdf, "k", order_by="o")
        for name, pfn in (("mean", "mean"), ("var", "var"), ("std", "std")):
            got = {(r.k, r.o): r[f"v_expanding_{name}"]
                   for r in g.expanding(min_periods=2).agg(name, "v").collect()}
            want = getattr(
                pdf.groupby("k").v.expanding(min_periods=2), pfn)()
            for (k, i) in want.index:
                w = want.loc[(k, i)]
                gv = got[(k, pdf.o[i])]
                if gv is None:
                    assert pd.isna(w), (name, k, i)
                else:
                    assert abs(gv - w) < 1e-9, (name, k, i)

    def test_masked_excludes_observations(self, spark):
        import pyspark.sql.functions as F
        sdf = spark.createDataFrame(
            [("a", 0, 1.0), ("a", 1, 100.0), ("a", 2, 3.0)],
            "k string, o int, v double")
        out = {r.o: r.v_expanding_mean for r in
               GroupBy(sdf, "k", order_by="o").expanding()
               .mean("v", mask=F.col("v") < 50).collect()}
        assert out == {0: 1.0, 1: 1.0, 2: 2.0}


class TestEwmMean:
    def test_matches_pandas(self, spark):
        import pandas as pd
        import numpy as np
        rng = np.random.default_rng(11)
        pdf = pd.DataFrame({
            "k": rng.choice(["a", "b", "c"], 90),
            "o": np.arange(90),
            "v": np.where(rng.random(90) < 0.1, np.nan, rng.random(90)),
        })
        sdf = spark.createDataFrame(pdf)
        for adjust in (True, False):
            out = (GroupBy(sdf, "k", order_by="o")
                   .ewm_mean("v", alpha=0.3, adjust=adjust).collect())
            got = {(r.k, r.o): r.v_ewm for r in out}
            want = (pdf.groupby("k").apply(
                lambda s: s.sort_values("o").v.ewm(
                    alpha=0.3, adjust=adjust).mean(), include_groups=False))
            for (k, i) in want.index:
                w = want.loc[(k, i)]
                gv = got[(k, pdf.o[i])]
                if gv is None or pd.isna(gv):
                    assert pd.isna(w), (adjust, k, i)
                else:
                    assert abs(gv - w) < 1e-12, (adjust, k, i)

    def test_validation(self, spark):
        import pytest as _pt
        sdf = spark.createDataFrame([("a", 1, 1.0)], "k string, o int, v double")
        with _pt.raises(ValueError, match="alpha"):
            GroupBy(sdf, "k", order_by="o").ewm_mean("v", alpha=1.5)
        with _pt.raises(ValueError, match="order_by"):
            GroupBy(sdf, "k").ewm_mean("v", alpha=0.5)
        with _pt.raises(ValueError, match="adjust"):
            GroupBy(sdf, "k", order_by="o").ewm_mean(
                "v", alpha=0.5, adjust=False, method="scan")

    def test_scan_multichunk_matches_pandas(self, spark):
        """The scan path's chunk machinery: 600 rows/group at alpha=0.5
        (L=57) crosses ~10 chunk boundaries; a 200-row null gap (>> L)
        exercises the exact-forward-fill regime; leading nulls stay null."""
        import pandas as pd
        import numpy as np
        rng = np.random.default_rng(23)
        n = 1200
        v = rng.standard_normal(n) * 100
        v[:7] = np.nan                      # leading nulls in group 0 slice
        v[300:500] = np.nan                 # long gap spanning many chunks
        v[rng.random(n) < 0.15] = np.nan    # scattered nulls
        pdf = pd.DataFrame({"k": np.arange(n) % 2, "o": np.arange(n), "v": v})
        sdf = spark.createDataFrame(pdf)
        for alpha, ignore_na in ((0.5, False), (0.5, True), (0.02, False)):
            got = {(r.k, r.o): r.v_ewm for r in
                   (GroupBy(sdf, "k", order_by="o")
                    .ewm_mean("v", alpha=alpha, ignore_na=ignore_na,
                              method="scan").collect())}
            want = pdf.groupby("k").apply(
                lambda s: s.sort_values("o").v.ewm(
                    alpha=alpha, ignore_na=ignore_na).mean(),
                include_groups=False)
            for (k, i) in want.index:
                w, gv = want.loc[(k, i)], got[(k, pdf.o[i])]
                if gv is None or pd.isna(gv):
                    assert pd.isna(w), (alpha, ignore_na, k, i)
                else:
                    assert abs(gv - w) <= 1e-9 * max(1.0, abs(w)), \
                        (alpha, ignore_na, k, i, gv, w)

    def test_var_std_match_pandas(self, spark):
        """ewm_var/ewm_std scan path vs pandas across chunk boundaries,
        scattered nulls, bias both ways, ignore_na both ways; kernel path
        via adjust=False."""
        import pandas as pd
        import numpy as np
        rng = np.random.default_rng(31)
        n = 700
        v = rng.standard_normal(n) * 10 + 3
        v[rng.random(n) < 0.15] = np.nan
        v[:5] = np.nan
        pdf = pd.DataFrame({"k": np.arange(n) % 3, "o": np.arange(n), "v": v})
        sdf = spark.createDataFrame(pdf)
        g = GroupBy(sdf, "k", order_by="o")
        for stat, bias, ignore_na, adjust in (
                ("var", False, False, True), ("var", True, False, True),
                ("var", False, True, True), ("std", False, False, True),
                ("var", False, False, False)):  # last → kernel path
            meth = getattr(g, f"ewm_{stat}")
            out = meth("v", alpha=0.4, bias=bias, ignore_na=ignore_na,
                       adjust=adjust).collect()
            got = {(r.k, r.o): getattr(r, f"v_ewm_{stat}") for r in out}
            want = pdf.groupby("k").apply(
                lambda s: getattr(s.sort_values("o").v.ewm(
                    alpha=0.4, adjust=adjust, ignore_na=ignore_na),
                    stat)(bias=bias),
                include_groups=False)
            for (k, i) in want.index:
                w, gv = want.loc[(k, i)], got[(k, pdf.o[i])]
                if gv is None or pd.isna(gv):
                    assert pd.isna(w), (stat, bias, ignore_na, adjust, k, i)
                else:
                    assert abs(gv - w) <= 1e-8 * max(1.0, abs(w)), \
                        (stat, bias, ignore_na, adjust, k, i, gv, w)

    def test_scan_equals_kernel(self, spark):
        """method='scan' and method='kernel' agree on the same frame
        (incl. alpha=1 and a multi-column pass)."""
        import pandas as pd
        import numpy as np
        rng = np.random.default_rng(5)
        pdf = pd.DataFrame({
            "k": rng.choice(["x", "y", "z"], 400),
            "o": np.arange(400),
            "a": np.where(rng.random(400) < 0.2, np.nan, rng.random(400)),
            "b": rng.standard_normal(400),
        })
        sdf = spark.createDataFrame(pdf)
        for alpha in (0.3, 1.0):
            g = GroupBy(sdf, "k", order_by="o")
            s = {(r.k, r.o): (r.a_ewm, r.b_ewm) for r in
                 g.ewm_mean(["a", "b"], alpha=alpha, method="scan").collect()}
            kq = {(r.k, r.o): (r.a_ewm, r.b_ewm) for r in
                  g.ewm_mean(["a", "b"], alpha=alpha, method="kernel").collect()}
            assert set(s) == set(kq)
            for key, (sa, sb) in s.items():
                ka, kb = kq[key]
                for x, y in ((sa, ka), (sb, kb)):
                    if x is None or pd.isna(x):
                        assert y is None or pd.isna(y), (alpha, key)
                    else:
                        assert abs(x - y) <= 1e-9 * max(1.0, abs(y)), \
                            (alpha, key)

    def test_scan_carry_shares_the_chunk_sort(self, spark):
        """The lag-1 carry reads the LAST row of each previous chunk, which
        holds that chunk's full cumsum only in the chunk window's row
        order. Pin the plan that guarantees it: no Sort between the
        chunk-cumsum Window and the carry Window, and two sorts in total
        after the exchange (row numbering, then chunk + carry + fill)."""
        import re

        import numpy as np
        import pandas as pd
        n = 900  # 3 groups x 300 rows; alpha=0.5 -> L=57, ~6 chunks/group
        pdf = pd.DataFrame({
            "k": np.arange(n) % 3, "o": np.arange(n),
            "v": np.random.default_rng(7).standard_normal(n)})
        out = (GroupBy(spark.createDataFrame(pdf), "k", order_by="o")
               .ewm_mean("v", alpha=0.5, method="scan"))
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        ops = []  # (operator, line) top-down along the single chain
        for line in final.splitlines():
            m = re.match(r"[\s:+|-]*(?:\*\(\d+\) )?([A-Za-z]+)", line)
            if m:
                ops.append((m.group(1), line))
        names = [o for o, _ in ops]
        carry = next(i for i, (o, ln) in enumerate(ops)
                     if o == "Window" and " AS __pn#" in ln)
        chunk = next(i for i, (o, ln) in enumerate(ops)
                     if o == "Window" and "sum(__z_v" in ln)
        assert carry < chunk, final
        assert "Sort" not in names[carry:chunk], final
        exchange = names.index("Exchange")
        assert names[:exchange].count("Sort") == 2, final

    def test_scan_carry_is_the_previous_chunk_total(self, spark,
                                                    monkeypatch):
        """The lag-1 carry ``__pn`` of every row equals the total of the
        weighted values ``__z`` over its group's previous chunk, summed
        independently here (NULL in a group's first chunk) — on shuffled
        input with several multi-row chunks per group and some nulls."""
        import numpy as np
        import pandas as pd
        n = 900  # 3 groups x 300 rows; alpha=0.5 -> L=57, 6 chunks/group
        rng = np.random.default_rng(3)
        v = rng.standard_normal(n)
        v[rng.random(n) < 0.1] = np.nan
        pdf = pd.DataFrame({"k": np.arange(n) % 3, "o": np.arange(n),
                            "v": v}).sample(frac=1.0, random_state=5)
        sdf = spark.createDataFrame(pdf)
        # keep the scan's carry, chunk id and weighted values in the output
        keep = {"__pn", "__c_v", "__z_v"}
        real_drop = type(sdf).drop
        monkeypatch.setattr(type(sdf), "drop", lambda self, *cols: real_drop(
            self, *[c for c in cols if not (isinstance(c, str) and c in keep)]))
        out = (GroupBy(sdf, "k", order_by="o")
               .ewm_mean("v", alpha=0.5, method="scan"))
        monkeypatch.undo()
        prev = (out.groupBy("k", "__c_v").agg(F.sum("__z_v").alias("want"))
                .withColumn("__c_v", F.col("__c_v") + 1))
        rows = (out.join(prev, ["k", "__c_v"], "left")
                .select("k", "__c_v", "__pn", "want").collect())
        assert len(rows) == n
        # (subscripts: r.__pn would be name-mangled inside the class)
        assert {(r["k"], r["__c_v"]) for r in rows} == {
            (k, c) for k in range(3) for c in range(6)}
        for r in rows:
            if r["__c_v"] == 0:
                assert r["__pn"] is None and r["want"] is None, r
            else:
                assert r["__pn"] == pytest.approx(r["want"], rel=1e-12), r


class TestRankMethods:
    def test_all_methods_match_pandas(self, spark):
        import pandas as pd
        import numpy as np
        rng = np.random.default_rng(4)
        pdf = pd.DataFrame({
            "k": rng.choice(["a", "b"], 50),
            "o": np.arange(50),
            "v": np.where(rng.random(50) < 0.2, np.nan,
                          rng.integers(0, 8, 50).astype("float64")),
        })
        sdf = spark.createDataFrame(pdf)
        g = GroupBy(sdf, "k", order_by="o")
        for method in ("average", "min", "max", "first", "dense"):
            for asc in (True, False):
                for pct in (False, True):
                    got = {(r.k, r.o): r.v_rank for r in
                           g.rank("v", method=method, ascending=asc,
                                  pct=pct).collect()}
                    want = pdf.groupby("k").v.rank(
                        method=method, ascending=asc, pct=pct)
                    for i in pdf.index:
                        key = (pdf.k[i], pdf.o[i])
                        if got[key] is None:
                            assert pd.isna(want[i]), (method, asc, pct, key)
                        else:
                            assert abs(got[key] - want[i]) < 1e-12, \
                                (method, asc, pct, key)

    def test_validation(self, spark):
        import pytest as _pt
        sdf = spark.createDataFrame([("a", 0, 1.0)], "k string, o int, v double")
        with _pt.raises(ValueError, match="rank method"):
            GroupBy(sdf, "k").rank("v", method="bogus")
        with _pt.raises(ValueError, match="order_by"):
            GroupBy(sdf, "k").rank("v", method="first")


class TestTakeCorrwith:
    def test_take_positions(self, spark):
        sdf = spark.createDataFrame(
            [("a", i, float(i * 10)) for i in range(5)]
            + [("b", i, float(i)) for i in range(2)],
            "k string, o int, v double")
        g = GroupBy(sdf, "k", order_by="o")
        got = sorted((r.k, r.o) for r in g.take([0, 2, -1]).collect())
        # a: positions 0,2,last(4); b: 0, last(1); position 2 OOB for b drops
        assert got == [("a", 0), ("a", 2), ("a", 4), ("b", 0), ("b", 1)]

    def test_corrwith_matches_pandas(self, spark):
        import pandas as pd
        import numpy as np
        rng = np.random.default_rng(8)
        pdf = pd.DataFrame({
            "k": rng.choice(["a", "b"], 80),
            "t": rng.random(80),
            "x": rng.random(80),
            "y": rng.random(80),
        })
        sdf = spark.createDataFrame(pdf)
        out = {r.k: (r.x_corr, r.y_corr) for r in
               GroupBy(sdf, "k").corrwith("t", ["x", "y"]).collect()}
        for k in ("a", "b"):
            sub = pdf[pdf.k == k]
            assert abs(out[k][0] - sub.x.corr(sub.t)) < 1e-12
            assert abs(out[k][1] - sub.y.corr(sub.t)) < 1e-12


class TestDuplicatedFlags:
    def test_matches_pandas(self, spark):
        import pandas as pd
        from pandas_plus_spark.operators import duplicated_flags
        pdf = pd.DataFrame({
            "o": range(7),
            "u": ["p", "q", "p", "r", "q", "p", "s"],
        })
        sdf = spark.createDataFrame(pdf)
        for keep in ("first", "last", False):
            got = {r.o: r.duplicated for r in
                   duplicated_flags(sdf, "u", "o", keep=keep).collect()}
            want = pdf.duplicated("u", keep=keep)
            assert got == {i: bool(want[i]) for i in pdf.o}, keep


class TestEwmMoments:
    def test_moments_equal_individual_ops(self, spark):
        """ewm_moments (one scan) == ewm_mean + ewm_var + ewm_std run
        separately, scan and kernel paths, incl. alpha=1."""
        import pandas as pd
        import numpy as np
        rng = np.random.default_rng(17)
        pdf = pd.DataFrame({
            "k": rng.choice(["x", "y"], 300), "o": np.arange(300),
            "v": np.where(rng.random(300) < 0.2, np.nan,
                          rng.standard_normal(300) * 9)})
        sdf = spark.createDataFrame(pdf)
        g = GroupBy(sdf, "k", order_by="o")
        for alpha, method in ((0.3, "scan"), (0.3, "kernel"), (1.0, "scan")):
            mom = {(r.k, r.o): (r.v_ewm, r.v_ewm_var, r.v_ewm_std) for r in
                   g.ewm_moments("v", alpha=alpha, method=method).collect()}
            m1 = {(r.k, r.o): r.v_ewm for r in
                  g.ewm_mean("v", alpha=alpha, method=method).collect()}
            v1 = {(r.k, r.o): r.v_ewm_var for r in
                  g.ewm_var("v", alpha=alpha, method=method).collect()}
            s1 = {(r.k, r.o): r.v_ewm_std for r in
                  g.ewm_std("v", alpha=alpha, method=method).collect()}
            for key in m1:
                for a, b in ((mom[key][0], m1[key]), (mom[key][1], v1[key]),
                             (mom[key][2], s1[key])):
                    if b is None or pd.isna(b):
                        assert a is None or pd.isna(a), (alpha, method, key)
                    else:
                        assert abs(a - b) <= 1e-12 * max(1.0, abs(b)), \
                            (alpha, method, key, a, b)
