"""util.lineage_cut (r16): plan truncation for reused intermediates.

Pins the four contracts the optimization relies on:

1. value identity — a cut frame returns exactly the source's rows;
2. plan truncation + deterministic release — the cut frame's plan is a
   LogicalRDD leaf, and release_cached frees the checkpoint blocks;
3. no lint blind spots — plans.lint walks the stashed pre-cut source, so
   anti-patterns BELOW a cut are still reported;
4. no silent leak — when the checkpointed RDD cannot be reached (so
   release_cached cannot free it), lineage_cut warns;

plus util.analyzed_size_bytes, which shares lineage_cut's narrow catch
(stub frames, no session), and the r15 ADVICE regression: _zip_array_key's positional reconstruction
(spark_partition_id + monotonically_increasing_id) stays correct on a
PERSISTED upstream frame with canChangeCachedPlanOutputPartitioning=true
(the engine default since r15) — the cache-layout consistency assumption,
made executable.
"""

import pyspark.sql.functions as F
import pytest

from pandas_plus_spark.util import (analyzed_size_bytes, attach_cached,
                                    lineage_cut, release_cached)


class TestLineageCut:
    def test_value_identity_and_leaf_plan(self, spark):
        src = (spark.range(1000)
               .select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))
               .groupBy("k").agg(F.sum("v").alias("s")))
        expected = {(r["k"], r["s"]) for r in src.collect()}
        cut = lineage_cut(src)
        assert {(r["k"], r["s"]) for r in cut.collect()} == expected
        analyzed = cut._jdf.queryExecution().analyzed().toString()
        assert "LogicalRDD" in analyzed, analyzed
        # consumers referencing the cut twice embed the LEAF, not the
        # aggregation subtree
        joined = cut.alias("a").join(cut.alias("b"), "k")
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "Aggregate" not in plan, plan

    def test_release_frees_checkpoint_blocks(self, spark):
        src = spark.range(100).select((F.col("id") * 2).alias("x"))
        cut = lineage_cut(src, eager=True)
        rdd = cut._pps_ckpt_rdd
        assert rdd is not None
        assert rdd.getStorageLevel().useMemory() or \
            rdd.getStorageLevel().useDisk()
        out = attach_cached(spark.range(1).crossJoin(F.broadcast(
            cut.agg(F.sum("x").alias("s")))), cut)
        out.collect()
        release_cached(out)
        lvl = rdd.getStorageLevel()
        assert not lvl.useMemory() and not lvl.useDisk()

    def test_unreachable_checkpoint_rdd_warns(self):
        """A plan walk that cannot reach the checkpointed RDD must not
        leak its blocks silently: lineage_cut warns and the frame is
        still returned (no Spark session — a stub stands in for it)."""
        from py4j.protocol import Py4JError

        class _Plan:
            def queryExecution(self):
                raise Py4JError("Method rdd([]) does not exist")

        class _Frame:
            _jdf = _Plan()

            def localCheckpoint(self, eager):
                return _Frame()

        src = _Frame()
        with pytest.warns(RuntimeWarning, match="release_cached cannot free"):
            out = lineage_cut(src)
        assert out._pps_ckpt_rdd is None
        assert out._pps_ckpt_src is src

    def test_release_cached_propagates_non_py4j_errors(self):
        """release_cached swallows only the Py4JError a stopped session
        raises; any other unpersist failure propagates (no Spark session —
        stubs stand in for the cached frames)."""
        from py4j.protocol import Py4JError

        class _Cached:
            def __init__(self, exc):
                self.exc = exc

            def unpersist(self):
                raise self.exc

        class _Out:
            pass

        stopped = attach_cached(_Out(), _Cached(Py4JError("stopped")))
        release_cached(stopped)
        assert stopped._pps_cached == []
        broken = attach_cached(_Out(), _Cached(ValueError("bug")))
        with pytest.raises(ValueError, match="bug"):
            release_cached(broken)

    def test_lint_sees_below_the_cut(self, spark):
        from pandas_plus_spark.plans import lint
        slow = F.udf(lambda x: x + 1, "long", useArrow=False)
        bad = spark.range(50).select(slow("id").alias("v"))
        cut = lineage_cut(bad)
        out = attach_cached(cut.groupBy("v").count(), cut)
        # the visible plan is clean (leaf scan) …
        visible = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in visible
        # … but the linter walks the stashed pre-cut source
        codes = {f.code for f in lint(out)}
        assert "row-udf" in codes
        release_cached(out)


class _SizedFrame:
    """Stub frame whose analyzed-plan stats report ``size``, or raise it
    when it is an exception."""

    def __init__(self, size):
        self._jdf = self
        self.size = size

    def queryExecution(self):
        return self

    def analyzed(self):
        return self

    def stats(self):
        return self

    def sizeInBytes(self):
        if isinstance(self.size, BaseException):
            raise self.size
        return self.size


class TestAnalyzedSizeBytes:
    def test_known_size(self):
        assert analyzed_size_bytes(_SizedFrame(18000)) == 18000

    def test_unknown_size_is_none(self):
        # empty local relation (0) and Spark's Long.MAX "unknown" sentinel
        assert analyzed_size_bytes(_SizedFrame(0)) is None
        assert analyzed_size_bytes(_SizedFrame((1 << 63) - 1)) is None
        assert analyzed_size_bytes(_SizedFrame(1 << 50)) is None

    def test_py4j_error_is_none(self):
        from py4j.protocol import Py4JError
        assert analyzed_size_bytes(_SizedFrame(Py4JError("no stats"))) is None

    def test_other_errors_propagate(self):
        with pytest.raises(RuntimeError, match="bug"):
            analyzed_size_bytes(_SizedFrame(RuntimeError("bug")))


class TestZipArrayKeyOnCachedUpstream:
    """r15 ADVICE #2: pid/mid positional reconstruction over a persisted
    upstream frame, with AQE allowed to re-size cached-plan output
    partitioning (the session default). The zip must still align the
    driver array with the frame's physical row order within one boot."""

    def test_values_align_on_persisted_frame(self, spark):
        import pandas as pd

        from pandas_plus_spark.groupby import GroupBy

        pdf = pd.DataFrame({"v": [float(i) for i in range(40)]})
        df = spark.createDataFrame(pdf).repartition(5).persist()
        df.count()  # materialize the cache, pinning its layout
        try:
            # physical row order after the repartition — the order the
            # engine's zip must reproduce
            import numpy as np
            order = [r["v"] for r in df.collect()]
            key = np.array([int(v) % 3 for v in order])
            got = {(r[0], r[1]) for r in
                   GroupBy(df, key).sum("v").collect()}
            expect = {}
            for k, v in zip(key, order):
                expect[k] = expect.get(k, 0.0) + v
            assert got == set(expect.items())
        finally:
            df.unpersist()
