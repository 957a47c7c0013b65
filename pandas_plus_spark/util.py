"""Engine-internal utilities."""

from __future__ import annotations

import warnings

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition when the plan has fewer partitions than the cluster has
    cores. Small single-file parquet inputs arrive as ONE split; any CPU-heavy
    per-row operator (shingling, hashing, vector math) would then run on a
    single core. One cheap round-robin shuffle of the raw rows buys full
    parallelism — the distributed equivalent of the reference's chunked
    thread fan-out (reference core.py:227-229, util.py:190-241)."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def parallel_filter(df: DataFrame, cond, min_partitions: int | None = None) -> DataFrame:
    """Filter with a CPU-heavy predicate, guaranteeing the predicate runs at
    cluster parallelism.

    ``ensure_parallelism`` alone cannot help a filter: Catalyst pushes
    deterministic predicates through a round-robin repartition down to the
    scan, and a scan over a single-row-group parquet file is one task — the
    whole predicate then evaluates on one core. When (and only when) the
    input has fewer partitions than the cluster has cores, this repartitions
    and wraps the predicate behind a nondeterministic guard
    (``monotonically_increasing_id() >= 0``, always true) so the optimizer
    cannot move it below the exchange. With enough input splits — every real
    cluster scan — the plain pushed-down filter IS the optimal plan (no
    shuffle of to-be-dropped rows), so no repartition and no guard happens.
    """
    from pyspark.sql import functions as F

    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        df = df.repartition(target)
        cond = (F.when(F.monotonically_increasing_id() >= 0, cond)
                .otherwise(F.lit(False)))
    return df.filter(cond)


def lineage_cut(df: DataFrame, eager: bool = False) -> DataFrame:
    """Materialize-once like ``persist()``, but ALSO truncate the logical
    plan at this point (``localCheckpoint``, guide §3.3/§5).

    ``persist()`` dedupes COMPUTATION but not PLANS: every downstream
    reference re-embeds the frame's full logical subtree, so nested reused
    intermediates (LSH: candidate pairs → band entries → collapsed corpus,
    referenced 3×/8×/2×) grow the final plan MULTIPLICATIVELY —
    minhash_neardup's formatted plan reached ~2000 lines / 250 Exchange
    prints, and Catalyst re-analyzes and re-canonicalizes that tree for
    every consumer (~1-1.5 s driver-side planning per fresh plan, r15
    profile). A local checkpoint replaces the subtree with a LogicalRDD
    leaf, so each consumer's plan is segment-sized and planning cost is
    additive, not multiplicative.

    Contracts kept:

    - Storage follows the persist() discipline — the handle rides the
      result via :func:`attach_cached`; :func:`release_cached` unpersists
      the checkpointed RDD deterministically (``_pps_ckpt_rdd``).
    - Plan lint keeps seeing the WHOLE pipeline: the pre-cut frame is
      stashed as ``_pps_ckpt_src`` and ``plans.lint`` traverses it, so
      the cut cannot create lint blind spots.
    - ``eager=False`` (default): the final result stage is computed
      lazily at first use (upstream AQE shuffle stages do run at
      construction — inherent to any plan-truncating materialization).
      ``eager=True`` fully materializes the blocks now — used where two
      INDEPENDENT cuts are submitted from driver threads so their jobs
      overlap (guide §2.6).

    Scale trade (why not everywhere): a local checkpoint's blocks are not
    fault-tolerant — a lost executor fails the job instead of recomputing
    the segment. Right for the small-by-construction reused frames the
    engine cuts (signatures, bucket entries, candidate pairs); wrong for
    giant intermediates where persist()'s recompute-on-loss matters. The
    converse holds for persist(): a recomputed partition is re-derived
    from its lineage, so a persisted frame built on a nondeterministic
    step (a sampled ``repartitionByRange``, ``spark_partition_id``) can
    come back with different contents than its surviving partitions —
    see the pins in ``functions/ordered.py``.
    """
    out = df.localCheckpoint(eager=eager)
    out._pps_ckpt_src = df
    try:
        out._pps_ckpt_rdd = out._jdf.queryExecution().analyzed().rdd()
    except (Py4JError, AttributeError) as e:
        # Py4JError: the analyzed plan is not a LogicalRDD (its shape
        # changed across Spark versions); AttributeError: no JVM handle
        out._pps_ckpt_rdd = None
        warnings.warn(
            f"lineage_cut could not reach the checkpointed RDD ({e!r}); "
            "release_cached cannot free its blocks, which stay pinned "
            "until the JVM garbage-collects the RDD",
            RuntimeWarning, stacklevel=2)
    return out


def analyzed_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate of ``df``'s ANALYZED plan, in bytes, or
    ``None`` when the size is unknown.

    The analyzed (not optimized) plan's stats: the basic size-only visitor
    gives the same estimate through Project/Filter nodes and skips
    re-running the optimizer driver-side (measured 1–2 ms vs 10–270 ms per
    call at sf0.1). Unknown means no JVM handle or plan stats
    (``Py4JError``/``AttributeError``, as in :func:`lineage_cut`), no
    estimate (``<= 0``, an empty local relation) or the "unknown" sentinel
    (``>= 2^50``: ``spark.sql.defaultSizeInBytes`` = Long.MAX propagates
    through plans Catalyst cannot size)."""
    try:
        size = int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())
    except (Py4JError, AttributeError):
        return None
    if size <= 0 or size >= (1 << 50):
        return None
    return size


def attach_cached(out: DataFrame, *cached: DataFrame) -> DataFrame:
    """Record the persisted intermediates an operator's result depends on.

    Operators persist frames that both sides of a self-join read (bucket
    entries, gram sets). ``DataFrame.persist`` pins executor storage until an
    explicit ``unpersist`` — Spark's CacheManager is keyed by logical plan and
    never GC-driven — so a long-lived session calling such operators in a loop
    would leak storage memory. The handles ride on the result; call
    :func:`release_cached` once the result is materialized (or no longer
    needed) to free them deterministically."""
    existing = list(getattr(out, "_pps_cached", ()))
    out._pps_cached = existing + list(cached)
    return out


def release_cached(df: DataFrame) -> None:
    """Unpersist every intermediate recorded by :func:`attach_cached` —
    both persisted frames and :func:`lineage_cut` checkpoint blocks."""
    for f in getattr(df, "_pps_cached", ()):
        rdd = getattr(f, "_pps_ckpt_rdd", None)
        try:
            if rdd is not None:
                rdd.unpersist(False)
            else:
                f.unpersist()
        except Py4JError:
            # a stopped session's BlockManagerMaster answers unpersist with
            # a JVM NullPointerException (Py4JJavaError) — nothing to free
            pass
    df._pps_cached = []
