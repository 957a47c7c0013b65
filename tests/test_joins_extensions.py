"""asof_join, broadcast joins, extensions sugar, stateful streaming, and
physical-plan shape assertions (the 100 TB design checks)."""

import pyspark.sql.functions as F
import pytest

from pandas_plus_spark.operators import joins
from pandas_plus_spark import GroupBy


class TestAsofJoin:
    @pytest.fixture(scope="class")
    def frames(self, spark):
        left = spark.createDataFrame(
            [(1, 1, 10.0), (2, 1, 5.0), (3, 1, 25.0), (4, 2, 3.0), (5, 2, 1.0)],
            "lid long, key long, t double")
        right = spark.createDataFrame(
            [(100, 1, 4.0), (101, 1, 20.0), (102, 2, 9.0)],
            "rid long, key long, t double")
        return left, right

    def test_backward(self, frames):
        left, right = frames
        out = joins.asof_join(left, right.select("key", "t", "rid"), on="t",
                              by="key", right_cols=["rid"])
        d = {r["lid"]: r["rid_right"] for r in out.collect()}
        # key 1: t=10 → rid@4; t=5 → rid@4; t=25 → rid@20. key 2: t=3,1 → none
        assert d == {1: 100, 2: 100, 3: 101, 4: None, 5: None}

    def test_backward_equal_ts_matches(self, spark):
        left = spark.createDataFrame([(1, 1, 4.0)], "lid long, key long, t double")
        right = spark.createDataFrame([(100, 1, 4.0)], "rid long, key long, t double")
        out = joins.asof_join(left, right.select("key", "t", "rid"), on="t",
                              by="key", right_cols=["rid"])
        assert out.first()["rid_right"] == 100

    def test_forward(self, frames):
        left, right = frames
        out = joins.asof_join(left, right.select("key", "t", "rid"), on="t",
                              by="key", right_cols=["rid"], direction="forward")
        d = {r["lid"]: r["rid_right"] for r in out.collect()}
        assert d == {1: 101, 2: 101, 3: None, 4: 102, 5: 102}

    def test_tolerance(self, frames):
        left, right = frames
        out = joins.asof_join(left, right.select("key", "t", "rid"), on="t",
                              by="key", right_cols=["rid"], tolerance=2.0)
        d = {r["lid"]: r["rid_right"] for r in out.collect()}
        # t=10 is 6 away from 4 → nulled; t=5 is 1 away → kept; t=25 is 5 away → nulled
        assert d == {1: None, 2: 100, 3: None, 4: None, 5: None}

    def test_row_count_preserved(self, frames):
        left, right = frames
        out = joins.asof_join(left, right.select("key", "t", "rid"), on="t",
                              by="key", right_cols=["rid"])
        assert out.count() == left.count()

    def test_nearest_matches_pandas(self, frames):
        import pandas as pd
        left, right = frames
        out = joins.asof_join(left, right.select("key", "t", "rid"), on="t",
                              by="key", right_cols=["rid"],
                              direction="nearest")
        d = {r["lid"]: r["rid_right"] for r in out.collect()}
        lp = left.toPandas().sort_values("t")
        rp = right.toPandas().sort_values("t")
        exp = pd.merge_asof(lp, rp[["key", "t", "rid"]], on="t", by="key",
                            direction="nearest")
        want = {int(r.lid): (None if pd.isna(r.rid) else int(r.rid))
                for r in exp.itertuples()}
        assert d == want
        # spot-check: t=10 is 6 from 4 and 10 from 20 -> backward rid 100;
        # t=25 only has 20 behind -> 101; key 2 t=3,1 -> forward 102
        assert d[1] == 100 and d[3] == 101 and d[4] == 102 and d[5] == 102

    def test_nearest_tie_goes_backward(self, spark):
        left = spark.createDataFrame([(1, 1, 10.0)], "lid long, key long, t double")
        right = spark.createDataFrame([(100, 1, 8.0), (101, 1, 12.0)],
                                      "rid long, key long, t double")
        out = joins.asof_join(left, right.select("key", "t", "rid"), on="t",
                              by="key", right_cols=["rid"],
                              direction="nearest")
        assert out.first()["rid_right"] == 100

    def test_nearest_tolerance_filters_each_side(self, spark):
        # backward candidate outside tolerance, forward inside -> forward wins
        left = spark.createDataFrame([(1, 1, 10.0)], "lid long, key long, t double")
        right = spark.createDataFrame([(100, 1, 2.0), (101, 1, 13.0)],
                                      "rid long, key long, t double")
        out = joins.asof_join(left, right.select("key", "t", "rid"), on="t",
                              by="key", right_cols=["rid"],
                              direction="nearest", tolerance=4.0)
        assert out.first()["rid_right"] == 101

    def test_bad_direction_raises(self, frames):
        left, right = frames
        with pytest.raises(ValueError, match="direction"):
            joins.asof_join(left, right, on="t", by="key",
                            right_cols=["rid"], direction="sideways")


class TestIntervalJoin:
    @pytest.fixture(scope="class")
    def frames(self, spark):
        left = spark.createDataFrame(
            [(1, 1, 5), (2, 1, 15), (3, 1, 99), (4, 2, 5)],
            "lid long, key long, t long")
        right = spark.createDataFrame(
            [(10, 1, 0, 10), (11, 1, 12, 20), (12, 2, 0, 3)],
            "iid long, key long, s long, e long")
        return left, right

    def test_bucketed_matches_broadcast(self, frames):
        left, right = frames
        bucketed = joins.interval_join(left, right, "t", "s", "e", by="key",
                                       bucket_width=7, right_cols=["iid"])
        d = {r["lid"]: r["iid"] for r in bucketed.collect()}
        assert d == {1: 10, 2: 11}  # t=99 and key-2 t=5 match nothing

    def test_non_bucketed_left_semantics(self, frames):
        left, right = frames
        out = joins.interval_join(left, right, "t", "s", "e", by="key",
                                  right_cols=["iid"])
        d = {r["lid"]: r["iid"] for r in out.collect()}
        assert d == {1: 10, 2: 11, 3: None, 4: None}

    def test_interval_spanning_many_buckets(self, spark):
        left = spark.createDataFrame([(1, 50)], "lid long, t long")
        right = spark.createDataFrame([(9, 0, 100)], "iid long, s long, e long")
        out = joins.interval_join(left, right, "t", "s", "e",
                                  bucket_width=3, right_cols=["iid"])
        assert out.first()["iid"] == 9


class TestPlanShape:
    """Assert the physical plans the engine promises at scale."""

    def test_dim_join_is_broadcast(self, tables):
        li = tables["lineitem"]
        supp = tables["supplier"].select("s_suppkey", "s_nationkey")
        out = joins.broadcast_dim_join(li, supp, on=[li.l_suppkey == supp.s_suppkey])
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_filter_pushdown_reaches_scan(self, spark):
        df = (spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
              .filter(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity"))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [" in plan and "l_quantity" in plan.split("PushedFilters")[1][:120]
        # column pruning: scan schema carries only the two referenced columns
        read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
        assert "l_extendedprice" not in read_schema

    def test_groupby_agg_is_partial_final(self, tables):
        out = GroupBy(tables["lineitem"], "l_returnflag").sum("l_quantity")
        plan = out._jdf.queryExecution().executedPlan().toString()
        # two HashAggregates around one exchange = map-side partial aggregation
        assert plan.count("HashAggregate") >= 2
        assert "partial_sum" in plan

    def test_q5_broadcasts_dims_no_cartesian(self, spark):
        """Q5-shape six-table join: the region⋈nation composite and the
        nation-filtered dims ride broadcast joins; the c_nationkey =
        s_nationkey correlation is an equi-join condition, never a
        cartesian blow-up."""
        import __spark_entry__ as entry_mod
        out = entry_mod.queries()["q5_local_supplier"](
            spark, "/root/testdata/sf0.001")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("BroadcastHashJoin") >= 2
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan

    def test_q18_two_phase_agg_and_take_ordered(self, spark):
        """Q18-shape: the order-grain quantity rollup is partial+final
        (map-side combine before the only fact exchange), and the top-100
        is TakeOrderedAndProject — no global sort."""
        import __spark_entry__ as entry_mod
        out = entry_mod.queries()["q18_large_orders"](
            spark, "/root/testdata/sf0.001")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "partial_sum" in plan
        assert "TakeOrderedAndProject" in plan

    def test_q18_bounded_frame_is_build_side_default(self, spark):
        """The orders⋈big join must BUILD on the HAVING-bounded rollup
        frame, never on orders. Statistics cannot deliver this at scale
        (the HAVING filter runs post-shuffle inside the join stage, so
        AQE's exchange-boundary stats are pre-filter — measured r7), so
        the query pins it with a shuffle_hash hint on the bounded side:
        ShuffledHashJoin BuildRight, right = the l_orderkey rollup."""
        import __spark_entry__ as entry_mod
        out = entry_mod.queries()["q18_large_orders"](
            spark, "/root/testdata/sf0.001")
        plan = out._jdf.queryExecution().executedPlan().toString()
        join_lines = [ln for ln in plan.splitlines()
                      if "Join [o_orderkey" in ln]
        assert join_lines, plan
        assert all("ShuffledHashJoin" in ln and "BuildRight" in ln
                   for ln in join_lines), plan
        # the fact side streams through the SHJ unsorted
        assert "SortMergeJoin [o_orderkey" not in plan

    def test_q18_bounded_frame_is_build_side_no_autobroadcast(self, spark):
        """Scale statistics: every broadcast threshold OFF (orders outgrow
        any threshold at 100 TB) — the executed ADAPTIVE plan must still
        build on the bounded frame, not fall back to sorting the orders
        shuffle."""
        import __spark_entry__ as entry_mod
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            spark.conf.set(
                "spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
            out = entry_mod.queries()["q18_large_orders"](
                spark, "/root/testdata/sf0.001")
            pre = out._jdf.queryExecution().executedPlan().toString()
            assert "CartesianProduct" not in pre
            out.collect()
            final = out._jdf.queryExecution().executedPlan().toString()
            if "== Final Plan ==" in final:
                final = final.split("== Final Plan ==")[1] \
                             .split("== Initial Plan ==")[0]
            join_lines = [ln for ln in final.splitlines()
                          if "Join [o_orderkey" in ln]
            assert join_lines, final
            assert all("ShuffledHashJoin" in ln and "BuildRight" in ln
                       for ln in join_lines), final
            assert "SortMergeJoin [o_orderkey" not in final
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")

    def test_persist_skips_second_exchange(self, tables):
        g = GroupBy(tables["lineitem"], "l_returnflag").persist()
        try:
            g.sum("l_quantity").collect()  # materialize cache
            read = g.mean("l_quantity")
            read.collect()
            plan = read._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryTableScan" in plan
            # the aggregation reuses the cache's key partitioning: the only
            # Exchange above the cache scan is the output sort's range
            # partitioning, never a second hash shuffle on the keys
            above = plan.split("InMemoryTableScan")[0]
            exchanges = [ln for ln in above.splitlines() if "Exchange " in ln]
            assert exchanges and all("rangepartitioning" in ln for ln in exchanges), above
        finally:
            g.unpersist()


class TestExtensions:
    def test_install_and_use(self, tables):
        from pandas_plus_spark.extensions import install_extensions
        install_extensions()
        li = tables["lineitem"]
        vc = li.vc("l_returnflag").collect()
        assert sum(r["count"] for r in vc) == li.count()
        assert set(li.select_numeric().columns) <= set(li.columns)
        assert "l_returnflag" not in li.select_numeric().columns
        assert li.filter_cols("^l_q").columns == ["l_quantity"]
        assert "l_quantity" not in li.drop_cols("^l_q").columns

    def test_full_alias_surface(self, spark):
        """reference extensions.py:11-91 alias list: tf/vc/sv/svd/gb/dd +
        categorize_objects + heat_map/hm."""
        from pandas_plus_spark.extensions import install_extensions
        install_extensions()
        df = spark.createDataFrame(
            [("b", "x", 2.0), ("a", "y", 1.0), ("a", "y", 1.0)],
            "k string, c string, v double")
        assert [r["k"] for r in df.sv("k", "v").collect()] == ["a", "a", "b"]
        assert [r["k"] for r in df.svd("k").collect()] == ["b", "a", "a"]
        assert df.dd().count() == 2
        assert df.dd("k").count() == 2
        assert df.tf("a", "b", "c").columns == ["a", "b", "c"]
        assert df.gb("k").size().count() == 2

    def test_categorize_objects_matches_pandas_codes(self, spark):
        df = spark.createDataFrame(
            [(0, "beta", 1.0), (1, "alpha", 2.0), (2, None, 3.0), (3, "beta", 4.0)],
            "rid long, s string, v double")
        out = {r["rid"]: r["s"] for r in df.categorize_objects().collect()}
        # pandas category codes = position in sorted uniques, NaN -> -1
        assert out == {0: 1, 1: 0, 2: -1, 3: 1}
        # numeric columns untouched, excluded columns untouched
        kept = df.categorize_objects(exclude=["s"]).collect()
        assert {r["s"] for r in kept} == {"beta", "alpha", None}

    def test_heat_map_rounded_crosstab(self, tables):
        li = tables["lineitem"]
        out = li.hm("l_returnflag", "l_linestatus", "l_quantity",
                    aggfunc="mean", precision=1)
        row = out.collect()[0]
        for c in out.columns[1:]:
            if row[c] is not None:
                assert round(row[c], 1) == row[c]

    def test_heat_map_styled_gradient(self, tables):
        # styled=True → pandas Styler with per-cell background CSS (no
        # matplotlib needed); extremes map to the ramp ends
        out = tables["lineitem"].hm(
            "l_returnflag", "l_linestatus", "l_quantity",
            aggfunc="mean", styled=True)
        import pandas as pd
        assert isinstance(out, pd.io.formats.style.Styler)
        html = out.to_html()
        assert "background-color: #" in html

    def test_level_shim(self, tables):
        from pandas_plus_spark import GroupBy
        li = tables["lineitem"]
        via_level = {r["l_returnflag"]: r["l_quantity"]
                     for r in GroupBy(li, level="l_returnflag")
                     .sum("l_quantity").collect()}
        via_keys = {r["l_returnflag"]: r["l_quantity"]
                    for r in GroupBy(li, "l_returnflag")
                    .sum("l_quantity").collect()}
        assert via_level == via_keys
        # facade form
        got = li.groupby_plus(level=["l_returnflag"]).size().count()
        assert got == len(via_keys)
        import pytest as _pt
        with _pt.raises(ValueError, match="not both"):
            GroupBy(li, "l_returnflag", level="l_linestatus")
        with _pt.raises(TypeError, match="no Spark analog"):
            GroupBy(li, level=0)
        with _pt.raises(TypeError, match="keys"):
            GroupBy(li)

    def test_bools_allow_duplicates_false_raises(self, spark):
        from pandas_plus_spark.functions.encoding import bools_to_categorical
        import pytest as _pt
        df = spark.createDataFrame(
            [(True, False), (True, True)], "a boolean, b boolean")
        ok = df.select(bools_to_categorical(["a", "b"]).alias("lab"))
        assert {r["lab"] for r in ok.collect()} == {"a", "a & b"}
        with _pt.raises(Exception, match="allow_duplicates"):
            df.select(bools_to_categorical(
                ["a", "b"], allow_duplicates=False).alias("lab")).collect()
        with _pt.raises(ValueError, match="collides"):
            bools_to_categorical(["a", "b"], na_rep="a")


class TestGroups:
    def test_groups_arrays(self, spark):
        df = spark.createDataFrame(
            [(0, "a"), (1, "b"), (2, "a"), (3, "b")], "rid long, k string")
        out = {r["k"]: r["row_ids"] for r in GroupBy(df, "k").groups("rid").collect()}
        assert out == {"a": [0, 2], "b": [1, 3]}


class TestStatefulStreaming:
    def test_running_total_stream(self, spark):
        import os
        import tempfile
        from pandas_plus_spark.streaming import stateful_running_total

        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        d = tempfile.mkdtemp(prefix="events_state_")
        os.symlink("/root/testdata/sf0.001/events.parquet",
                   os.path.join(d, "events.parquet"))
        static = spark.read.parquet(os.path.join(d, "events.parquet"))
        sdf = (spark.readStream.schema(static.schema).parquet(d)
               .select("user_id", "event_id", "value"))
        out = stateful_running_total(sdf)
        q = (out.writeStream.format("memory").queryName("running")
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(120)
        try:
            rows = spark.sql(
                "SELECT * FROM running ORDER BY user_id, event_id").collect()
            assert len(rows) == static.count()
            # per-user totals are cumulative and end at the batch sum
            by_user = {}
            for r in rows:
                prev = by_user.get(r["user_id"], 0.0)
                assert r["running_total"] == pytest.approx(prev + r["value"])
                by_user[r["user_id"]] = r["running_total"]
        finally:
            q.stop()


def test_install_groupby_plus_attaches_method(spark):
    from pyspark.sql import DataFrame
    from pandas_plus_spark import install_groupby_plus
    install_groupby_plus()
    assert hasattr(DataFrame, "groupby_plus")
    df = spark.createDataFrame([("a", 1), ("a", 2)], "k string, v long")
    out = df.groupby_plus("k").sum("v")
    assert out.collect()[0]["v"] == 3


def test_facade_forwards_parity_extras(spark):
    from pandas_plus_spark.groupby.api import DataFrameGroupBy
    sdf = spark.createDataFrame(
        [("a", 0, 1.0), ("a", 1, None), ("a", 2, 4.0), ("b", 0, 2.0)],
        "k string, o int, v double")
    gb = DataFrameGroupBy(sdf, "k", order_by="o")
    # values-bearing methods respect column selection
    assert "v_ffill" in gb["v"].ffill().columns
    assert "v_open" in gb["v"].ohlc().columns
    assert "v_q0_5" in gb["v"].describe().columns
    assert "v" in gb["v"].skew().columns
    # no-values methods bypass selection binding
    assert "ngroup" in gb["v"].ngroup().columns
    assert gb["v"].nlargest(1, "v").count() == 2
    assert "v_expanding_mean" in gb["v"].expanding().mean("v").columns
    assert "v_ewm" in gb["v"].ewm_mean(alpha=0.5).columns


def _py_lev(a, b):
    dp = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        prev, dp[0] = dp[0], i
        for j, cb in enumerate(b, 1):
            prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1,
                                     prev + (ca != cb))
    return dp[len(b)]


class TestFuzzyJoin:
    """Edit-distance join (r13): SymSpell deletion-neighborhood blocking
    + levenshtein verify must equal the brute-force cross join."""

    def test_planted_and_edges(self, spark):
        from pandas_plus_spark.operators.joins import fuzzy_join
        L = [(1, "apple"), (2, "banana"), (3, "cherry"), (4, "kiwi"),
             (5, None), (6, "a")]
        R = [(10, "appel"), (11, "banana"), (12, "chery"), (13, "melon"),
             (14, "ki"), (15, "")]
        ldf = spark.createDataFrame(L, "id long, name string")
        rdf = spark.createDataFrame(R, "id long, name string")
        for k in (1, 2):
            got = sorted((x.left_id, x.right_id, x.edit_distance)
                         for x in fuzzy_join(ldf, rdf, "name",
                                             max_dist=k).collect())
            want = sorted((a, b, _py_lev(sa, sb))
                          for a, sa in L for b, sb in R
                          if sa is not None and sb is not None
                          and _py_lev(sa, sb) <= k)
            assert got == want, k

    def test_random_strings_match_brute_force(self, spark):
        import numpy as np
        from pandas_plus_spark.operators.joins import fuzzy_join
        rng = np.random.RandomState(41)
        alpha = "abc"
        def rand_s():
            return "".join(alpha[rng.randint(3)]
                           for _ in range(rng.randint(0, 7)))
        L = [(i, rand_s()) for i in range(60)]
        R = [(i, rand_s()) for i in range(60)]
        ldf = spark.createDataFrame(L, "id long, name string")
        rdf = spark.createDataFrame(R, "id long, name string")
        for k in (1, 2):
            got = sorted((x.left_id, x.right_id, x.edit_distance)
                         for x in fuzzy_join(ldf, rdf, "name",
                                             max_dist=k).collect())
            want = sorted((a, b, _py_lev(sa, sb))
                          for a, sa in L for b, sb in R
                          if _py_lev(sa, sb) <= k)
            assert got == want, k

    def test_duplicates_max_len_and_validation(self, spark):
        import pytest as _pt
        from pandas_plus_spark.operators.joins import fuzzy_join
        # duplicate keys on both sides: every id pair must appear
        ldf = spark.createDataFrame([(1, "abc"), (2, "abc")],
                                    "id long, name string")
        rdf = spark.createDataFrame([(7, "abd"), (8, "abd")],
                                    "id long, name string")
        got = sorted((x.left_id, x.right_id)
                     for x in fuzzy_join(ldf, rdf, "name").collect())
        assert got == [(1, 7), (1, 8), (2, 7), (2, 8)]
        # keys over max_len are excluded entirely
        big = spark.createDataFrame([(1, "x" * 300)], "id long, name string")
        assert fuzzy_join(big, big, "name").count() == 0
        with _pt.raises(ValueError, match="max_dist"):
            fuzzy_join(ldf, rdf, "name", max_dist=3)

    def test_block_on_restricts_matches(self, spark):
        from pandas_plus_spark.operators.joins import fuzzy_join
        ldf = spark.createDataFrame(
            [(1, "abc", "x.com"), (2, "abc", "y.com"), (3, "zzz", "x.com")],
            "id long, name string, host string")
        rdf = spark.createDataFrame(
            [(7, "abd", "x.com"), (8, "abd", "y.com"), (9, "abd", None)],
            "id long, name string, host string")
        got = sorted((x.left_id, x.right_id, x.host)
                     for x in fuzzy_join(ldf, rdf, "name",
                                         block_on="host").collect())
        # abc~abd only within the SAME host; NULL host never matches
        assert got == [(1, 7, "x.com"), (2, 8, "y.com")]
        # without blocking, all four cross-host pairs match
        assert fuzzy_join(ldf.drop("host"), rdf.drop("host"),
                          "name").count() == 6

    def test_no_static_broadcast_of_exploded_side(self, spark):
        """r14: Catalyst sizes the variant explode at ~pre-explode
        bytes, so on any input it can't PROVE tiny the planner must
        not broadcast (100k keys x 56 variants statically broadcast
        and OOM'd an 8 GB driver). Parquet-backed input with a real
        size estimate above the bound -> every join pinned shuffle;
        a provably-tiny side -> broadcast allowed."""
        import pyspark.sql.functions as F
        from pandas_plus_spark.operators.joins import fuzzy_join
        import tempfile, os
        d = tempfile.mkdtemp()
        p = os.path.join(d, "keys.parquet")
        spark.range(30_000).select(
            F.col("id"),
            F.concat(F.lit("k"), F.lpad(F.col("id").cast("string"),
                                        9, "0")).alias("name")
        ).write.mode("overwrite").parquet(p)
        big = spark.read.parquet(p)
        fj = fuzzy_join(big, big, "name", max_dist=2)
        plan = fj._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, plan[:2000]
        # tiny side (bounded even after the worst-case explode at
        # max_dist=1 and short max_len): broadcast IS chosen
        tiny = spark.createDataFrame(
            [(i, f"nm{i}") for i in range(10)], "id long, name string")
        fj2 = fuzzy_join(tiny, big, "name", max_dist=1, max_len=16)
        plan2 = fj2._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan2
        # and the pinned plan still computes the right answer
        assert fj2.count() == 0  # 'nm*' never within ed 1 of 'k0000*'

    def test_plan_has_no_cartesian_product(self, spark):
        """The whole point of the deletion-neighborhood blocking: the
        physical plan must contain no CartesianProduct /
        BroadcastNestedLoopJoin and no single-partition funnel, at any
        max_dist, with or without block_on."""
        from pandas_plus_spark.operators.joins import fuzzy_join
        from pandas_plus_spark.plans.lint import assert_scalable
        ldf = spark.createDataFrame(
            [(i, f"name{i}", f"h{i % 3}") for i in range(50)],
            "id long, name string, host string")
        rdf = spark.createDataFrame(
            [(i, f"nam{i}", f"h{i % 3}") for i in range(50)],
            "id long, name string, host string")
        assert_scalable(fuzzy_join(ldf, rdf, "name", max_dist=2))
        assert_scalable(fuzzy_join(ldf, rdf, "name", block_on="host"))
