"""Distributed GLOBAL ordered operators — no partition key, no bottleneck.

A window with ORDER BY but no PARTITION BY funnels every row through one
task (`WindowExec: No Partition Defined`) — the classic Spark scale-killer
for globally-ordered computations (running totals, global row numbers,
exact quantile tiles). These operators decompose the global order into the
two-phase pattern:

1. ``repartitionByRange`` on the order keys — partition i holds a
   contiguous key range, all ranges ordered end-to-end;
2. the ordered computation runs per partition (parallel), plus a
   prefix-offset correction computed from ONE tiny row-per-partition frame
   (its unpartitioned window is over ≤ num_partitions rows, harmless at
   any data size) broadcast back.

Semantics match the single-window equivalent exactly when the order keys
are a total order; under ties, per-row outputs are tie-order-dependent in
both formulations (pass tiebreak columns).

The reference's ordered kernels (cumsum/shift/rank over implicit array
order, reference numba.py:438-555) get their order from array position;
here order is explicit columns, per SURVEY §7.4 R12.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..util import analyzed_size_bytes, attach_cached


def _order_cols(order_by) -> list[Column]:
    if isinstance(order_by, (list, tuple)):
        return [F.col(c) if isinstance(c, str) else c for c in order_by]
    return [F.col(order_by) if isinstance(order_by, str) else order_by]


#: Auto-parallelism targets (r13 driver-grain A/B, BASELINE.md): the range
#: pass wants ~256 KiB of Catalyst-estimated input per partition at the
#: small end (below that, task dispatch dominates the per-partition sort)
#: and at most ~512 MiB per partition at the large end (above that, a
#: partition no longer fits comfortably in executor memory for the
#: in-partition window sort).
_RANGE_TARGET_BYTES = 256 << 10
_RANGE_MAX_PARTITION_BYTES = 512 << 20


def _resolve_partitions(df: DataFrame, num_partitions: int | None) -> int:
    """Resolve ``num_partitions=None`` so parallelism tracks DATA, not just
    cores, at BOTH ends (r13 — the r12 ``defaultParallelism`` resolution
    paid ~24 near-empty task dispatches per range stage at driver grain,
    and on a real cluster it would under-partition a 100 TB frame).

    ``ceil(size / 256 KiB)`` from Catalyst's analyzed-plan size estimate,
    clamped below by 2 (cross-partition carry paths stay exercised even on
    tiny inputs) and above by ``max(defaultParallelism,
    ceil(size / 512 MiB))`` — i.e. the cap is core count until partitions
    would exceed ~512 MiB, after which partition count grows with the data.
    Catalyst OVER-estimates (join products, unknown selectivities) degrade
    gracefully to the old ``defaultParallelism`` behavior; an unknown size
    (``util.analyzed_size_bytes`` returns ``None``) falls back
    likewise."""
    if num_partitions:
        return num_partitions
    par = df.sparkSession.sparkContext.defaultParallelism
    size = analyzed_size_bytes(df)
    if size is None:
        return par
    want = max(2, -(-size // _RANGE_TARGET_BYTES))
    cap = max(par, -(-size // _RANGE_MAX_PARTITION_BYTES))
    return min(want, cap)


def _ranged(df: DataFrame, order_by, num_partitions: int | None):
    cols = _order_cols(order_by)
    n = _resolve_partitions(df, num_partitions)
    rp = df.repartitionByRange(n, *cols)
    return rp.withColumn("__pid", F.spark_partition_id()), cols


def _sum_zero(df: DataFrame, value: str) -> Column:
    """Additive zero literal that preserves the SUM type of ``value``.

    ``F.lit(0.0)`` (double) coerced against a DECIMAL running sum pulls the
    whole expression to double and silently reintroduces the float drift
    that the decimal path exists to eliminate (the r8 driver-hash lesson:
    prefix-difference stats drifting ~1e-13 vs the oracle's direct window
    aggregation flip rounding boundaries in the hash's canonical format).
    A ``decimal(1,0)`` zero coerces to the wider decimal operand instead —
    sums stay exact, and exact arithmetic is association-order-independent,
    so the two-phase decomposition equals the oracle's single window
    bit-for-bit after the final double conversion."""
    from pyspark.sql.types import DecimalType
    if isinstance(df.schema[value].dataType, DecimalType):
        return F.lit(0).cast("decimal(1,0)")
    return F.lit(0.0)


def global_row_number(
    df: DataFrame,
    order_by,
    out: str = "row_number",
    num_partitions: int | None = None,
) -> DataFrame:
    """1-based global row number in ``order_by`` order, fully distributed.

    Within-partition ``row_number`` + the cumulative count of earlier
    partitions (a broadcast of one row per partition)."""
    rp, cols = _ranged(df, order_by, num_partitions)
    # PINNED: repartitionByRange samples its boundaries per execution, and
    # this frame feeds TWO plan branches (the rows and the per-partition
    # counts). Unpinned, each branch can re-execute the exchange with
    # different sampled boundaries — __pid then disagrees between branches
    # and the offsets corrupt the numbering. persist() makes both branches
    # read one materialization (the same hazard class as dedup's bucket
    # self-joins; released via util.release_cached).
    #
    # persist(), NOT util.lineage_cut (r16 measured decision, applies to
    # every data-sized `local` pin in this module): these frames are the
    # FULL input plus a running column, and a localCheckpoint replaces
    # the columnar InMemoryRelation scan with a row-format LogicalRDD —
    # a per-row cost that scales with the data (same-boot order-reversed
    # A/B: group_rank_scale 1.64 -> 1.95 s, token_budget 0.79 -> 0.88 s
    # with the cut, both halves consistent) for a planning-only win.
    # Cuts stay on the small-by-construction frames (LSH entries, vocab
    # counts) where the trade runs the other way.
    #
    # Fault-tolerance trade: persist() is NOT a barrier against the
    # boundary hazard above. If a cached block is lost (executor loss,
    # eviction), Spark recomputes that partition from lineage — which
    # re-samples the range boundaries, so the recomputed rows can carry a
    # different __pid than the surviving blocks and the numbering is
    # silently wrong. A localCheckpoint fails the job loudly instead (see
    # util.lineage_cut's "not fault-tolerant" note). At cluster scale
    # these pins want a deterministic partition key.
    local = rp.withColumn(
        "__lrn", F.row_number().over(Window.partitionBy("__pid").orderBy(*cols))
    ).persist()
    counts = local.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = counts.select(
        "__pid", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"))
    out_df = (
        local.join(F.broadcast(offs), "__pid")
        .withColumn(out, (F.col("__lrn") + F.col("__off")).cast("long"))
        .drop("__pid", "__lrn", "__off")
    )
    return attach_cached(out_df, local)


def global_cumsum(
    df: DataFrame,
    order_by,
    value,
    out: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global running total of ``value`` in ``order_by`` order.

    Within-partition running sum + the prefix sum of whole-partition
    totals. One data shuffle (the range partitioning); the offset frame is
    one row per partition."""
    rp, cols = _ranged(df, order_by, num_partitions)
    v = F.col(value) if isinstance(value, str) else value
    w_local = (Window.partitionBy("__pid").orderBy(*cols)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # pinned for the same two-branch boundary-divergence hazard as
    # global_row_number (totals must see the SAME __pid as the rows);
    # persist, not lineage_cut: data-sized (see global_row_number)
    local = rp.withColumn("__lcum", F.sum(v).over(w_local)).persist()
    totals = local.groupBy("__pid").agg(F.sum(v).alias("__tot"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(
        "__pid", F.sum("__tot").over(w_off).alias("__off"))
    # window-sum null semantics: NULL iff the whole global prefix is null
    # (local prefix null AND every earlier partition total null); otherwise
    # nulls are skipped — coalesce each side to 0 before adding.
    cum = F.when(
        F.col("__lcum").isNull() & F.col("__off").isNull(), F.lit(None)
    ).otherwise(
        F.coalesce(F.col("__lcum"), F.lit(0)) + F.coalesce(F.col("__off"), F.lit(0))
    )
    out_df = (
        local.join(F.broadcast(offs), "__pid")
        .withColumn(out, cum)
        .drop("__pid", "__lcum", "__off")
    )
    return attach_cached(out_df, local)


def grouped_cumsum(
    df: DataFrame,
    group_by,
    order_by,
    value,
    out: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Running total of ``value`` per group in ``order_by`` order — the
    grouped generalization of :func:`global_cumsum` for FEW, HUGE groups.

    A plain ``Window.partitionBy(group)`` funnels each group through one
    task; with training-mix groups (source / domain / language — often
    10-100 values over the whole corpus) that is a per-group single-task
    sort of terabytes. Here the range partitioning is on ``(group,
    order_by)`` — a group spans MANY consecutive partitions — and the
    prefix correction joins on ``(group, partition)``: one tiny frame of at
    most ``n_partitions × groups-spanned`` rows, broadcast back. Same
    two-phase shape, same null semantics, any group cardinality.
    """
    gnames = [group_by] if isinstance(group_by, str) else list(group_by)
    gcols = [F.col(c) for c in gnames]  # group_by: column NAMES (join keys)
    ocols = _order_cols(order_by)
    n = _resolve_partitions(df, num_partitions)
    rp = df.repartitionByRange(n, *gcols, *ocols).withColumn(
        "__pid", F.spark_partition_id())
    v = F.col(value) if isinstance(value, str) else value
    # pinned: the rows and the per-(pid, group) totals must see the SAME
    # sampled range boundaries (the global_row_number two-branch hazard)
    w_local = (Window.partitionBy("__pid", *gcols).orderBy(*ocols)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = rp.withColumn("__lcum", F.sum(v).over(w_local)).persist()
    totals = local.groupBy("__pid", *gcols).agg(F.sum(v).alias("__tot"))
    w_off = (Window.partitionBy(*gcols).orderBy("__pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = totals.select(
        F.col("__pid").alias("__opid"),
        *[F.col(g).alias(f"__og_{i}") for i, g in enumerate(gnames)],
        F.sum("__tot").over(w_off).alias("__off"))
    # null-safe group match (a NULL group key is a group like any other and
    # can span partitions); left join keeps first-partition rows (__off null)
    cond = F.col("__pid") == F.col("__opid")
    for i, g in enumerate(gnames):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__og_{i}"))
    cum = F.when(
        F.col("__lcum").isNull() & F.col("__off").isNull(), F.lit(None)
    ).otherwise(
        F.coalesce(F.col("__lcum"), F.lit(0)) + F.coalesce(F.col("__off"), F.lit(0))
    )
    out_df = (
        local.join(F.broadcast(offs), cond, "left")
        .withColumn(out, cum)
        .drop("__pid", "__lcum", "__off", "__opid",
              *[f"__og_{i}" for i in range(len(gnames))])
    )
    return attach_cached(out_df, local)


def grouped_row_number(
    df: DataFrame,
    group_by,
    order_by,
    out: str = "rn",
    size: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """1-based per-group row number in ``order_by`` order — the grouped
    generalization of :func:`global_row_number` for FEW, HUGE groups
    (``Window.partitionBy(group)`` numbers each group in ONE task;
    measured superlinear on 100M rows / 5 groups, BASELINE.md third-decade
    table). Optionally also emits the group size as ``size`` — backward
    position = size − rn + 1, which is what take/nth negative indexing
    needs without a second (descending) corpus sort.

    Range partition on ``(group, order)``; local row_number per
    ``(partition, group)``; ONE tiny count row per (partition, group)
    yields both the prefix offset and the group total, broadcast back."""
    gnames = [group_by] if isinstance(group_by, str) else list(group_by)
    gcols = [F.col(c) for c in gnames]
    ocols = _order_cols(order_by)
    n = _resolve_partitions(df, num_partitions)
    rp = df.repartitionByRange(n, *gcols, *ocols).withColumn(
        "__pid", F.spark_partition_id())
    # pinned: the rows and the per-(pid, group) counts must see the SAME
    # sampled range boundaries (the global_row_number two-branch hazard)
    local = rp.withColumn(
        "__lrn",
        F.row_number().over(Window.partitionBy("__pid", *gcols).orderBy(*ocols))
    ).persist()
    counts = local.groupBy("__pid", *gcols).agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = (Window.partitionBy(*gcols).orderBy("__pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    w_tot = (Window.partitionBy(*gcols)
             .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    offs = counts.select(
        F.col("__pid").alias("__opid"),
        *[F.col(g).alias(f"__og_{i}") for i, g in enumerate(gnames)],
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
        F.sum("__cnt").over(w_tot).alias("__tot"))
    cond = F.col("__pid") == F.col("__opid")
    for i, g in enumerate(gnames):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__og_{i}"))
    out_df = (
        local.join(F.broadcast(offs), cond)
        .withColumn(out, (F.col("__lrn") + F.col("__off")).cast("long"))
    )
    if size is not None:
        out_df = out_df.withColumn(size, F.col("__tot").cast("long"))
    out_df = out_df.drop("__pid", "__lrn", "__off", "__tot", "__opid",
                         *[f"__og_{i}" for i in range(len(gnames))])
    return attach_cached(out_df, local)


def grouped_take(
    df: DataFrame,
    group_by,
    order_by,
    positions,
    num_partitions: int | None = None,
) -> DataFrame:
    """Rows at the given 0-based in-group positions (negatives from the
    end) in ``order_by`` order — ``GroupBy.take`` semantics (out-of-range
    drops) at few-huge-groups scale. One :func:`grouped_row_number` pass
    with group sizes supplies BOTH directions: the window form needs a
    second full descending sort for negative positions; here backward
    position = size − rn + 1 is free.

    NULL group keys form a group like any other (the functions.ordered
    convention, matching SQL window PARTITION BY); ``GroupBy.take``
    follows pandas ``dropna=True`` and excludes them — pre-filter
    ``df.filter(col(g).isNotNull())`` for exact GroupBy parity."""
    pos = list(positions)
    fwd = sorted({p + 1 for p in pos if p >= 0})
    bwd = sorted({-p for p in pos if p < 0})
    rn = grouped_row_number(df, group_by, order_by, out="__grn",
                            size="__gsz", num_partitions=num_partitions)
    conds = []
    if fwd:
        conds.append(F.col("__grn").isin(fwd))
    if bwd:
        conds.append((F.col("__gsz") - F.col("__grn") + 1).isin(bwd))
    cond = conds[0]
    for c in conds[1:]:
        cond = cond | c
    return rn.filter(cond).drop("__grn", "__gsz")


def grouped_ffill(
    df: DataFrame,
    group_by,
    order_by,
    value: str,
    out: str | None = None,
    num_partitions: int | None = None,
    backward: bool = False,
) -> DataFrame:
    """Forward fill per group in ``order_by`` order — the grouped
    generalization of the ``GroupBy.ffill`` window for FEW, HUGE groups
    (the :func:`grouped_cumsum` regime: ``Window.partitionBy(group)``
    funnels each group through ONE task — measured superlinear at 100M
    rows over 5 event types, BASELINE.md third-decade table).
    ``backward=True`` is the ``GroupBy.bfill`` mirror (next non-null in
    order): same range partitioning, with the local window, boundary row
    and carry direction all reversed. Default output column
    ``{value}_ffill`` / ``{value}_bfill``.

    Two-phase: range partition on ``(group, order)``; within
    ``(partition, group)`` a running last-non-null gives the local fill;
    then ONE row per (partition, group) — the partition's last non-null —
    feeds a running last-non-null over partition order on that tiny frame
    (skipping all-null partitions), broadcast back as the carry. Fill =
    local if any in-partition observation precedes the row, else the
    carry. Null semantics identical to the window form: rows before any
    observation anywhere stay NULL; a NULL group key is a group like any
    other."""
    gnames = [group_by] if isinstance(group_by, str) else list(group_by)
    gcols = [F.col(c) for c in gnames]
    ocols = _order_cols(order_by)
    n = _resolve_partitions(df, num_partitions)
    out = out or f"{value}_{'bfill' if backward else 'ffill'}"
    rp = df.repartitionByRange(n, *gcols, *ocols).withColumn(
        "__pid", F.spark_partition_id())
    v = F.col(value)
    local_order = [c.desc() for c in ocols] if backward else ocols
    # pinned: rows and the per-(pid, group) boundary frame must see the
    # SAME sampled range boundaries (the global_row_number two-branch
    # hazard) — hence the persist
    w_local = (Window.partitionBy("__pid", *gcols).orderBy(*local_order)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = rp.withColumn(
        "__lff", F.last(v, ignorenulls=True).over(w_local)).persist()
    # the partition's boundary fill = the local fill at its max-order row
    # (min-order row for backward)
    boundary_pick = F.min_by if backward else F.max_by
    lastnn = local.groupBy("__pid", *gcols).agg(
        boundary_pick("__lff", F.struct(*ocols)).alias("__lastnn"))
    carry_order = F.col("__pid").desc() if backward else F.col("__pid")
    w_carry = (Window.partitionBy(*gcols).orderBy(carry_order)
               .rowsBetween(Window.unboundedPreceding, -1))
    carries = lastnn.select(
        F.col("__pid").alias("__opid"),
        *[F.col(g).alias(f"__og_{i}") for i, g in enumerate(gnames)],
        F.last("__lastnn", ignorenulls=True).over(w_carry).alias("__carry"))
    cond = F.col("__pid") == F.col("__opid")
    for i, g in enumerate(gnames):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__og_{i}"))
    out_df = (
        local.join(F.broadcast(carries), cond, "left")
        .withColumn(out, F.coalesce(F.col("__lff"), F.col("__carry")))
        .drop("__pid", "__lff", "__carry", "__opid",
              *[f"__og_{i}" for i in range(len(gnames))])
    )
    return attach_cached(out_df, local)


def _grouped_running(df, gnames, order_by, value, num_partitions,
                     want_sq: bool = False):
    """One fused range-partition pass emitting, per group in order: the
    1-based row number ``__rn``, the null-skipping running sum ``__C``
    and the non-null running count ``__N`` (plus the running sum of
    squares ``__C2`` when ``want_sq``) — the prefix state every
    difference-based rolling/shift/expanding operator needs. Same
    two-phase shape and pinning rationale as :func:`grouped_cumsum`."""
    gcols = [F.col(c) for c in gnames]
    ocols = _order_cols(order_by)
    n = _resolve_partitions(df, num_partitions)
    rp = df.repartitionByRange(n, *gcols, *ocols).withColumn(
        "__pid", F.spark_partition_id())
    v = F.col(value)
    w_run = (Window.partitionBy("__pid", *gcols).orderBy(*ocols)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_rn = Window.partitionBy("__pid", *gcols).orderBy(*ocols)
    local = (rp.withColumn("__lrn", F.row_number().over(w_rn))
             .withColumn("__lC", F.sum(v).over(w_run))
             .withColumn("__lN", F.count(v).over(w_run)))
    if want_sq:
        local = local.withColumn("__lC2", F.sum(v * v).over(w_run))
    local = local.persist()
    baggs = [F.count(F.lit(1)).alias("__rows"),
             F.sum(v).alias("__tot"),
             F.count(v).alias("__nn")]
    if want_sq:
        baggs.append(F.sum(v * v).alias("__tot2"))
    bounds = local.groupBy("__pid", *gcols).agg(*baggs)
    w_off = (Window.partitionBy(*gcols).orderBy("__pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    osel = [
        F.col("__pid").alias("__opid"),
        *[F.col(g).alias(f"__og_{i}") for i, g in enumerate(gnames)],
        F.coalesce(F.sum("__rows").over(w_off), F.lit(0)).alias("__orows"),
        F.sum("__tot").over(w_off).alias("__osum"),
        F.coalesce(F.sum("__nn").over(w_off), F.lit(0)).alias("__onn")]
    if want_sq:
        osel.append(F.sum("__tot2").over(w_off).alias("__osum2"))
    offs = bounds.select(*osel)
    cond = F.col("__pid") == F.col("__opid")
    for i, g in enumerate(gnames):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__og_{i}"))

    zero = _sum_zero(df, value)

    def _null_aware(lc, oc):
        return F.when(
            F.col(lc).isNull() & F.col(oc).isNull(), F.lit(None)
        ).otherwise(
            F.coalesce(F.col(lc), zero) + F.coalesce(F.col(oc), zero))

    out = (local.join(F.broadcast(offs), cond, "left")
           .withColumn("__rn", (F.col("__lrn") + F.col("__orows")).cast("long"))
           .withColumn("__C", _null_aware("__lC", "__osum"))
           .withColumn("__N", (F.col("__lN") + F.col("__onn")).cast("long")))
    drop = ["__pid", "__lrn", "__lC", "__lN", "__opid", "__orows",
            "__osum", "__onn", *[f"__og_{i}" for i in range(len(gnames))]]
    if want_sq:
        out = out.withColumn("__C2", _null_aware("__lC2", "__osum2"))
        drop += ["__lC2", "__osum2"]
    out = out.drop(*drop)
    return attach_cached(out, local)


def grouped_rolling_sum(
    df: DataFrame,
    group_by,
    order_by,
    value: str,
    window: int,
    min_periods: int | None = None,
    out: str | None = None,
    num_partitions: int | None = None,
    mean: bool = False,
) -> DataFrame:
    """Trailing ``window``-row rolling sum (or mean) per group in
    ``order_by`` order at few-huge-groups scale — ``GroupBy.rolling_sum``
    semantics (min_periods counts NON-NULL values in the frame, default
    = window; every row emits).

    The per-group window form funnels each group through one task (the
    regime measured superlinear at sf100 for the fill/take family). Here
    rolling = prefix difference: ONE fused :func:`_grouped_running` pass
    gives (rn, running sum C, running non-null count N), then a NARROW
    (group, rn, C, N) projection self-joins on (group, rn − window) — a
    plain hash join, parallelism = partition count. Precision note: the
    difference C_t − C_{t−w} carries the prefix sum's accumulated
    rounding (relative error ~ eps·n_prefix/window against the window
    sum) — bit-differences vs the windowed form appear in the last ~2
    digits on 1e8-row groups; exact for integer-valued doubles below
    2^53 as always."""
    if window is None or window < 1:
        raise ValueError("window must be a positive int")
    mp = window if min_periods is None else min_periods
    gnames = [group_by] if isinstance(group_by, str) else list(group_by)
    out = out or f"{value}_rolling_{'mean' if mean else 'sum'}"
    run = _grouped_running(df, gnames, order_by, value, num_partitions)
    right = run.select(
        *[F.col(g).alias(f"__jg_{i}") for i, g in enumerate(gnames)],
        (F.col("__rn") + F.lit(window)).alias("__jrn"),
        F.col("__C").alias("__Cp"), F.col("__N").alias("__Np"))
    cond = F.col("__rn") == F.col("__jrn")
    for i, g in enumerate(gnames):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__jg_{i}"))
    zero = _sum_zero(df, value)
    n_in = F.col("__N") - F.coalesce("__Np", F.lit(0))
    val = F.coalesce(F.col("__C"), zero) - F.coalesce(F.col("__Cp"), zero)
    if mean:
        # divide in double with the exact sum cast first — the shape the
        # DuckDB oracle mirrors (CAST(s AS DOUBLE) / n); a no-op when the
        # input is already double
        val = val.cast("double") / n_in
    guarded = F.when(n_in >= F.lit(max(mp, 1)), val)
    joined = (run.join(right, cond, "left")
              .withColumn(out, guarded)
              .drop("__rn", "__C", "__N", "__jrn", "__Cp", "__Np",
                    *[f"__jg_{i}" for i in range(len(gnames))]))
    return joined


def grouped_rolling_stats(
    df: DataFrame,
    group_by,
    order_by,
    value: str,
    window: int,
    stats=(("sum", None), ("mean", None), ("var", None)),
    min_periods: int | None = None,
    ddof: int = 1,
    num_partitions: int | None = None,
) -> DataFrame:
    """Several trailing-window stats (sum/mean/var/std/count) from ONE
    fused :func:`_grouped_running` pass and ONE narrow prefix self-join —
    what chaining grouped_rolling_sum → _mean → _var pays three range
    exchanges and three persists for (r9: the chained form re-partitions
    the full frame per stat; this shares the running (C, N, C2) state).
    ``stats`` is a list of ``(stat, out_name)`` pairs (out_name None →
    ``{value}_rolling_{stat}``). Same semantics, guards and — on the
    DECIMAL input path — the same canonical double expression shapes as
    the single-stat operators, so oracles written against those match
    this op bit-for-bit."""
    if window is None or window < 1:
        raise ValueError("window must be a positive int")
    stats = [(s, o or f"{value}_rolling_{s}") for s, o in stats]
    allowed = {"sum", "mean", "var", "std", "count"}
    bad = {s for s, _ in stats} - allowed
    if bad:
        raise ValueError(f"unsupported rolling stats: {sorted(bad)}")
    mp = window if min_periods is None else min_periods
    gnames = [group_by] if isinstance(group_by, str) else list(group_by)
    want_sq = bool({"var", "std"} & {s for s, _ in stats})
    run = _grouped_running(df, gnames, order_by, value, num_partitions,
                           want_sq=want_sq)
    rsel = [*[F.col(g).alias(f"__jg_{i}") for i, g in enumerate(gnames)],
            (F.col("__rn") + F.lit(window)).alias("__jrn"),
            F.col("__C").alias("__Cp"), F.col("__N").alias("__Np")]
    if want_sq:
        rsel.append(F.col("__C2").alias("__C2p"))
    right = run.select(*rsel)
    cond = F.col("__rn") == F.col("__jrn")
    for i, g in enumerate(gnames):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__jg_{i}"))
    zero = _sum_zero(df, value)
    n_in = F.col("__N") - F.coalesce("__Np", F.lit(0))
    s_raw = F.coalesce(F.col("__C"), zero) - F.coalesce(F.col("__Cp"), zero)
    sd = s_raw.cast("double")
    if want_sq:
        s2d = (F.coalesce(F.col("__C2"), zero)
               - F.coalesce(F.col("__C2p"), zero)).cast("double")
    guard = n_in >= F.lit(max(mp, 1))
    out_df = run.join(right, cond, "left")
    for stat, oname in stats:
        if stat == "count":
            # pandas rolling().count() respects min_periods (NaN below);
            # NULL below the guard keeps that parity (r10 ADVICE fix —
            # was emitted unguarded, diverging from the docstring's
            # same-guards claim)
            expr = F.when(guard, n_in.cast("long"))
        elif stat == "sum":
            expr = F.when(guard, s_raw)
        elif stat == "mean":
            expr = F.when(guard, sd / n_in)
        else:
            num = F.greatest(s2d - sd * sd / n_in, F.lit(0.0))
            val = num / (n_in - F.lit(ddof))
            if stat == "std":
                val = F.sqrt(val)
            expr = F.when(guard & (n_in > F.lit(ddof)), val)
        out_df = out_df.withColumn(oname, expr)
    drop = ["__rn", "__C", "__N", "__jrn", "__Cp", "__Np",
            *[f"__jg_{i}" for i in range(len(gnames))]]
    if want_sq:
        drop += ["__C2", "__C2p"]
    return attach_cached(out_df.drop(*drop),
                         *getattr(run, "_pps_cached", ()))


def _grouped_multi_cumsum(df, gnames, order_by, pairs, num_partitions):
    """:func:`grouped_cumsum` over SEVERAL value columns in one fused
    range-partition pass (one exchange, one persist, one boundary frame
    with all the offsets) — ``pairs`` = [(value_col, out_col), ...].
    Same null semantics per column as grouped_cumsum."""
    gcols = [F.col(c) for c in gnames]
    ocols = _order_cols(order_by)
    n = _resolve_partitions(df, num_partitions)
    rp = df.repartitionByRange(n, *gcols, *ocols).withColumn(
        "__pid", F.spark_partition_id())
    # pinned after the running window: the window output has two
    # consumers (the per-(pid, group) totals and the offset join below),
    # and both must see the SAME sampled range boundaries (the two-branch
    # hazard of grouped_cumsum's note). DISK_ONLY: this frame can be
    # corpus-sized and each consumer reads it once more — on an 8g local
    # heap a MEMORY_AND_DISK copy starves the downstream hash aggregates'
    # execution pool (measured SparkOutOfMemoryError at 100M rows), while
    # the disk round-trip is two sequential scans.
    from pyspark import StorageLevel
    w_local = (Window.partitionBy("__pid", *gcols).orderBy(*ocols)
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = rp
    for i, (vc, _) in enumerate(pairs):
        local = local.withColumn(f"__mlc_{i}", F.sum(vc).over(w_local))
    local = local.persist(StorageLevel.DISK_ONLY)
    totals = local.groupBy("__pid", *gcols).agg(
        *[F.sum(vc).alias(f"__mt_{i}") for i, (vc, _) in enumerate(pairs)])
    w_off = (Window.partitionBy(*gcols).orderBy("__pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = totals.select(
        F.col("__pid").alias("__opid"),
        *[F.col(g).alias(f"__og_{i}") for i, g in enumerate(gnames)],
        *[F.sum(f"__mt_{i}").over(w_off).alias(f"__mo_{i}")
          for i in range(len(pairs))])
    cond = F.col("__pid") == F.col("__opid")
    for i, g in enumerate(gnames):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__og_{i}"))
    out = local.join(F.broadcast(offs), cond, "left")
    for i, (vc, oc) in enumerate(pairs):
        zero = _sum_zero(df, vc)
        lc, off = F.col(f"__mlc_{i}"), F.col(f"__mo_{i}")
        out = out.withColumn(oc, F.when(
            lc.isNull() & off.isNull(), F.lit(None)
        ).otherwise(F.coalesce(lc, zero) + F.coalesce(off, zero)))
    out = out.drop("__pid", "__opid",
                   *[f"__og_{i}" for i in range(len(gnames))],
                   *[f"__mlc_{i}" for i in range(len(pairs))],
                   *[f"__mo_{i}" for i in range(len(pairs))])
    return attach_cached(out, local)


def grouped_rolling_time(
    df: DataFrame,
    group_by,
    on: str,
    value: str,
    window,
    funcs=("sum",),
    min_periods: int = 1,
    num_partitions: int | None = None,
    unique_on: bool = False,
) -> DataFrame:
    """Time-based trailing window (``GroupBy.rolling_time`` semantics:
    the closed range frame ``[on − window, on]`` incl. ALL peer rows at
    the current ``on``; ``min_periods`` counts non-null values) at
    few-huge-groups scale, for the difference-expressible funcs
    sum/mean/count/var/std.

    No range-frame window, no pair-amplifying bucket join. Three steps,
    all partition-count-parallel: (1) aggregate to one row per
    (group, on) — sum/count/sum²; (2) UNION-ASOF in the running pass
    itself: an all-zeros anchor row at key ``on − window`` is unioned in,
    sorted BEFORE data rows at equal keys, and ONE fused grouped running
    pass over (key, is_data) order gives every data row its cumulative
    totals and every anchor row the window-START prefix (zeros never
    perturb the sums; strictly-before ordering keeps boundary rows at
    exactly on−window inside the frame); (3) one hash-agg collapses each
    (data, anchor) pair on (group, on) — frame stats are the cumulative
    differences — and joins back to the rows.
    min/max are not prefix-differenceable — use the window form or a
    bucketed join for those. Rows with NULL ``on`` emit NULL outputs.

    ``unique_on=True`` asserts ``(group, on)`` is UNIQUE (the usual
    time-series index contract) and removes TWO corpus shuffles: the
    per-key pre-aggregate degenerates to a projection, and the raw value
    rides the fused pass so the final join back to the input is
    unnecessary — the collapse frame IS the result (r9: 2 of the 4
    corpus-sized exchanges gone; measured below bar at sf1 while the
    sf100 A/B shape is unchanged). Under this flag rows with NULL ``on``
    are dropped (they carry no window) and the output columns are
    exactly ``group + on + value + stats``; duplicate ``(group, on)``
    keys would silently merge — callers own the uniqueness contract."""
    allowed = {"sum", "mean", "count", "var", "std"}
    bad = set(funcs) - allowed
    if bad:
        raise ValueError(
            f"grouped_rolling_time supports {sorted(allowed)}; got {sorted(bad)}")
    if min_periods < 1:
        raise ValueError("min_periods must be >= 1")
    gnames = [group_by] if isinstance(group_by, str) else list(group_by)
    v = F.col(value)
    # (1) per-(group, on) totals, then grouped running totals over the
    # distinct-timestamp frame (corpus-sized in the worst case — hence
    # ONE fused range-partition pass over all three columns, not a
    # per-group window and not three separate cumsum passes)
    if unique_on:
        agg = (df.filter(F.col(on).isNotNull())
               .select(*gnames, F.col(on),
                       v.alias("__ts"),
                       v.isNotNull().cast("double").alias("__tn"),
                       (v * v).alias("__ts2")))
    else:
        agg = (df.filter(F.col(on).isNotNull())
               .groupBy(*gnames, on)
               .agg(F.sum(v).alias("__ts"),
                    F.count(v).cast("double").alias("__tn"),
                    F.sum(v * v).alias("__ts2")))
    # (2) one fused running pass over the data∪anchor union: anchors are
    # all-zero rows at key on − window, ordered before data rows at equal
    # keys, so their running totals ARE the strictly-before prefix.
    # The union is built with ONE map-side explode (r10) — the former
    # two-branch unionByName scanned the per-key aggregate twice. Zeros
    # are typed to the aggregate sums so a DECIMAL input stays decimal
    # (a double 0.0 would coerce the whole column and forfeit exactness).
    zts = F.lit(0).cast(agg.schema["__ts"].dataType)
    zts2 = F.lit(0).cast(agg.schema["__ts2"].dataType)
    both = F.array(
        F.struct(F.col(on).alias("__key"), F.lit(1).alias("__isd"),
                 F.col("__ts"), F.col("__tn"), F.col("__ts2")),
        F.struct((F.col(on) - F.lit(window)).alias("__key"),
                 F.lit(0).alias("__isd"), zts.alias("__ts"),
                 F.lit(0.0).alias("__tn"), zts2.alias("__ts2")))
    union = (agg.select(*gnames, F.col(on).alias("__src"),
                        F.explode(both).alias("__e"))
             .select(*gnames, "__src", "__e.*"))
    pairs = [("__ts", "__cs"), ("__tn", "__cn"), ("__ts2", "__cs2")]
    run = _grouped_multi_cumsum(
        union, gnames, ["__key", "__isd"], pairs, num_partitions)
    # (3) collapse each (data, anchor) pair — exactly two rows per
    # (group, on) — into frame stats via the cumulative differences
    isd = F.col("__isd") == 1
    saggs = [
        F.max(F.when(isd, F.col("__cs"))).alias("__cs"),
        F.max(F.when(isd, F.col("__cn"))).alias("__cn"),
        F.max(F.when(isd, F.col("__cs2"))).alias("__cs2"),
        F.max(F.when(~isd, F.col("__cs"))).alias("__bs"),
        F.max(F.when(~isd, F.col("__cn"))).alias("__bn"),
        F.max(F.when(~isd, F.col("__cs2"))).alias("__bs2"),
    ]
    if unique_on:
        # the raw per-key value rides the pass so the result needs no
        # join back to the input
        saggs.append(F.max(F.when(isd, F.col("__ts"))).alias("__vraw"))
    stats = (run.groupBy(*gnames, "__src").agg(*saggs)
             .withColumnRenamed("__src", on))
    zs = F.lit(0).cast(stats.schema["__cs"].dataType)
    zs2 = F.lit(0).cast(stats.schema["__cs2"].dataType)
    n_in = F.coalesce("__cn", F.lit(0.0)) - F.coalesce("__bn", F.lit(0.0))
    # frame sums are exact decimal differences on the decimal path; cast
    # to double BEFORE any division so the stat expressions below are the
    # canonical double shapes the DuckDB oracle mirrors (no-op for double)
    s_in = (F.coalesce(F.col("__cs"), zs)
            - F.coalesce(F.col("__bs"), zs)).cast("double")
    s2_in = (F.coalesce(F.col("__cs2"), zs2)
             - F.coalesce(F.col("__bs2"), zs2)).cast("double")
    guard = n_in >= F.lit(min_periods)
    outcols = []
    for func in funcs:
        name = f"{value}_t{func}"
        if func == "count":
            # guarded like the other stats: pandas rolling(...).count()
            # is NaN below min_periods (r10 ADVICE fix)
            expr = F.when(guard, n_in.cast("long"))
        elif func == "sum":
            expr = F.when(guard, s_in)
        elif func == "mean":
            expr = F.when(guard, s_in / n_in)
        else:
            vb = F.greatest(s2_in - s_in * s_in / n_in, F.lit(0.0))
            e = F.when(guard & (n_in > 1), vb / (n_in - F.lit(1)))
            expr = F.sqrt(e) if func == "std" else e
        outcols.append(expr.alias(name))
    cached = getattr(run, "_pps_cached", ())
    if unique_on:
        return attach_cached(
            stats.select(*gnames, F.col(on),
                         F.col("__vraw").alias(value), *outcols), *cached)
    per_key = stats.select(
        *[F.col(g).alias(f"__rg_{i}") for i, g in enumerate(gnames)],
        F.col(on).alias("__ron"), *outcols)
    jcond = F.col(on) == F.col("__ron")
    for i, g in enumerate(gnames):
        jcond = jcond & F.col(g).eqNullSafe(F.col(f"__rg_{i}"))
    return attach_cached(
        df.join(per_key, jcond, "left")
        .drop("__ron", *[f"__rg_{i}" for i in range(len(gnames))]), *cached)


def grouped_rank(
    df: DataFrame,
    group_by,
    tiebreak,
    value: str,
    method: str = "average",
    ascending: bool = True,
    pct: bool = False,
    out: str | None = None,
    num_partitions: int | None = None,
    methods=None,
) -> DataFrame:
    """Per-group rank of ``value`` (pandas ``GroupBy.rank`` methods
    average/min/max/first/dense, na_option=keep) at few-huge-groups
    scale. Ranking orders by VALUE, so the range partition is on
    ``(group, value)`` — one :func:`grouped_row_number` pass with nulls
    forced last (their positions never perturb non-null ranks), then a
    (group, value)-distinct tie frame (min/max position per tie, dense
    index via a second grouped numbering of the frame itself — the
    frame can be corpus-sized under continuous values, so it gets the
    same no-funnel treatment) joined back. ``tiebreak`` columns make
    method='first' deterministic. pct divides by the group's non-null
    count (dense: by its distinct count), as pandas does.

    ``methods`` computes SEVERAL ranks in one pass — a list of
    ``(method, pct, out_name)`` triples sharing the single numbering
    pass, tie frame and size frame (overrides method/pct/out; each
    extra method is one more column expression, not another operator
    pipeline).

    Fast path (r9): when NO method is 'first', per-ROW positions are
    never needed — tmin/tmax/dense all derive from per-(group, value)
    COUNTS: dense = the tie row's index in value order, tmax = the
    running count sum, tmin = tmax − count + 1. The corpus then pays one
    hash aggregate and one join ON THE SAME KEY (AQE reuses the
    exchange), and the whole numbering machinery runs over the
    (group, distinct-value) tie frame only — via the same fused
    :func:`_grouped_running` two-phase pass, so a corpus-sized tie
    frame (continuous values) still has no per-group funnel."""
    gnames = [group_by] if isinstance(group_by, str) else list(group_by)
    if methods is None:
        methods = [(method, pct, out or f"{value}_rank")]
    else:
        methods = [tuple(m) for m in methods]
    for m, _, _ in methods:
        if m not in ("average", "min", "max", "first", "dense"):
            raise ValueError(f"unsupported rank method: {m}")
    v = F.col(value)
    vord = (v.asc_nulls_last() if ascending else v.desc_nulls_last())
    need_dense = any(m == "dense" for m, _, _ in methods)
    need_sizes = any(p for _, p, _ in methods)
    if not any(m == "first" for m, _, _ in methods):
        cnt = (df.filter(v.isNotNull())
               .groupBy(*gnames, value)
               .agg(F.count(F.lit(1)).alias("__tcnt")))
        run = _grouped_running(cnt, gnames, [vord], "__tcnt",
                               num_partitions)
        ties = run.select(
            *[F.col(g).alias(f"__tg_{i}") for i, g in enumerate(gnames)],
            F.col(value).alias("__tv"),
            (F.col("__C") - F.col("__tcnt") + F.lit(1)).cast("long")
            .alias("__tmin"),
            F.col("__C").cast("long").alias("__tmax"),
            F.col("__rn").alias("__tdense"))
        cond = v == F.col("__tv")
        for i, g in enumerate(gnames):
            cond = cond & F.col(g).eqNullSafe(F.col(f"__tg_{i}"))
        joined = df.join(ties, cond, "left")
        joined = _rank_exprs(joined, ties, gnames, methods, v, need_sizes,
                             rrn=None)
        out_df = joined.drop(
            "__tmin", "__tmax", "__tv", "__tdense",
            *[f"__tg_{i}" for i in range(len(gnames))],
            *([f"__sg_{i}" for i in range(len(gnames))] + ["__gnn", "__gnd"]
              if need_sizes else []))
        return attach_cached(out_df, *getattr(run, "_pps_cached", ()))
    order = [vord] + _order_cols(tiebreak)
    rn = grouped_row_number(df, gnames, order, out="__rrn",
                            num_partitions=num_partitions)
    nnrows = rn.filter(v.isNotNull())
    if all(m == "first" and not p for m, p, _ in methods):
        out_df = rn
        for _, _, oname in methods:
            out_df = out_df.withColumn(
                oname, F.when(v.isNotNull(), F.col("__rrn").cast("double")))
        return out_df.drop("__rrn")
    ties = nnrows.groupBy(*gnames, value).agg(
        F.min("__rrn").alias("__tmin"), F.max("__rrn").alias("__tmax"))
    if need_dense:
        ties = grouped_row_number(
            ties, gnames, [vord], out="__tdense",
            num_partitions=num_partitions)
    tsel = [*[F.col(g).alias(f"__tg_{i}") for i, g in enumerate(gnames)],
            F.col(value).alias("__tv"), "__tmin", "__tmax"]
    if need_dense:
        tsel.append("__tdense")
    ties = ties.select(*tsel)
    cond = v == F.col("__tv")  # value non-null on both sides at matches
    for i, g in enumerate(gnames):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__tg_{i}"))
    joined = rn.join(ties, cond, "left")
    joined = _rank_exprs(joined, ties, gnames, methods, v, need_sizes,
                         rrn="__rrn")
    drop = ["__rrn", "__tmin", "__tmax", "__tv",
            *[f"__tg_{i}" for i in range(len(gnames))]]
    if need_sizes:
        drop += ["__gnn", "__gnd",
                 *[f"__sg_{i}" for i in range(len(gnames))]]
    if need_dense:
        drop.append("__tdense")
    return attach_cached(joined.drop(*drop),
                         *getattr(rn, "_pps_cached", ()),
                         *getattr(ties, "_pps_cached", ()))


def _rank_exprs(joined, ties, gnames, methods, v, need_sizes, rrn):
    """Shared tail of :func:`grouped_rank`: the per-group size frame and
    the per-method rank expressions. Sizes derive from the TIE frame, not
    another corpus-wide aggregate — Σ(tmax − tmin + 1) over tie rows is
    the group's non-null count and count(*) its distinct count, so one
    tiny agg replaces a full corpus scan + two-phase count_distinct (r9:
    that corpus-side count_distinct was both the biggest codegen unit and
    a second full-corpus exchange in this plan)."""
    if need_sizes:
        sizes = (ties.groupBy(*[F.col(f"__tg_{i}")
                                for i in range(len(gnames))])
                 .agg(F.sum(F.col("__tmax") - F.col("__tmin") + F.lit(1))
                      .cast("long").alias("__gnn"),
                      F.count(F.lit(1)).alias("__gnd"))
                 .select(*[F.col(f"__tg_{i}").alias(f"__sg_{i}")
                           for i in range(len(gnames))], "__gnn", "__gnd"))
        scond = None
        for i, g in enumerate(gnames):
            c = F.col(g).eqNullSafe(F.col(f"__sg_{i}"))
            scond = c if scond is None else scond & c
        joined = joined.join(sizes, scond, "left")
    for m, p, oname in methods:
        if m == "min":
            rank = F.col("__tmin").cast("double")
        elif m == "max":
            rank = F.col("__tmax").cast("double")
        elif m == "average":
            rank = (F.col("__tmin") + F.col("__tmax")) / F.lit(2.0)
        elif m == "dense":
            rank = F.col("__tdense").cast("double")
        else:  # first
            rank = F.col(rrn).cast("double")
        if p:
            denom = F.col("__gnd") if m == "dense" else F.col("__gnn")
            rank = rank / denom
        joined = joined.withColumn(oname, F.when(v.isNotNull(), rank))
    return joined


def grouped_cumminmax(
    df: DataFrame,
    group_by,
    order_by,
    value: str,
    op: str = "min",
    out: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Running min/max per group in ``order_by`` order at few-huge-groups
    scale. Prefix min/max is associative, so the :func:`grouped_cumsum`
    two-phase shape applies verbatim: per-(partition, group) running
    min/max, a tiny boundary frame's running min/max over PRECEDING
    partitions broadcast back, final = least/greatest of the two
    (null-skipping, like the window aggregate)."""
    if op not in ("min", "max"):
        raise ValueError("op must be 'min' or 'max'")
    agg = F.min if op == "min" else F.max
    pick = F.least if op == "min" else F.greatest
    gnames = [group_by] if isinstance(group_by, str) else list(group_by)
    gcols = [F.col(c) for c in gnames]
    ocols = _order_cols(order_by)
    n = _resolve_partitions(df, num_partitions)
    out = out or f"{value}_cum{op}"
    rp = df.repartitionByRange(n, *gcols, *ocols).withColumn(
        "__pid", F.spark_partition_id())
    v = F.col(value)
    w_run = (Window.partitionBy("__pid", *gcols).orderBy(*ocols)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # pinned: same two-branch boundary hazard as grouped_cumsum
    local = rp.withColumn("__lm", agg(v).over(w_run)).persist()
    bounds = local.groupBy("__pid", *gcols).agg(agg(v).alias("__bm"))
    w_off = (Window.partitionBy(*gcols).orderBy("__pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = bounds.select(
        F.col("__pid").alias("__opid"),
        *[F.col(g).alias(f"__og_{i}") for i, g in enumerate(gnames)],
        agg("__bm").over(w_off).alias("__om"))
    cond = F.col("__pid") == F.col("__opid")
    for i, g in enumerate(gnames):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__og_{i}"))
    # least/greatest skip nulls (SQL semantics), matching the window
    # aggregate: null iff no observation in the whole prefix
    out_df = (local.join(F.broadcast(offs), cond, "left")
              .withColumn(out, pick(F.col("__lm"), F.col("__om")))
              .drop("__pid", "__lm", "__om", "__opid",
                    *[f"__og_{i}" for i in range(len(gnames))]))
    return attach_cached(out_df, local)


def grouped_rolling_var(
    df: DataFrame,
    group_by,
    order_by,
    value: str,
    window: int,
    min_periods: int | None = None,
    ddof: int = 1,
    std: bool = False,
    out: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Trailing rolling variance (or std) per group at few-huge-groups
    scale — the :func:`grouped_rolling_sum` prefix-difference join with
    the sum-of-squares component carried too: over the frame,
    n = N_t − N_{t−w}, S = C_t − C_{t−w}, S2 = C2_t − C2_{t−w},
    var = (S2 − S²/n)/(n − ddof). Same one-pass-moment precision
    contract as the keyed var aggregates (cancellation when
    var ≪ mean²) stacked on the prefix-difference contract."""
    if window is None or window < 1:
        raise ValueError("window must be a positive int")
    mp = window if min_periods is None else min_periods
    gnames = [group_by] if isinstance(group_by, str) else list(group_by)
    out = out or f"{value}_rolling_{'std' if std else 'var'}"
    run = _grouped_running(df, gnames, order_by, value, num_partitions,
                           want_sq=True)
    right = run.select(
        *[F.col(g).alias(f"__jg_{i}") for i, g in enumerate(gnames)],
        (F.col("__rn") + F.lit(window)).alias("__jrn"),
        F.col("__C").alias("__Cp"), F.col("__N").alias("__Np"),
        F.col("__C2").alias("__C2p"))
    cond = F.col("__rn") == F.col("__jrn")
    for i, g in enumerate(gnames):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__jg_{i}"))
    zero = _sum_zero(df, value)
    n_in = F.col("__N") - F.coalesce("__Np", F.lit(0))
    # frame sums are exact on the decimal path; all division/cancellation
    # arithmetic happens in double with the sums cast FIRST — the canonical
    # var shape (S2 − S·S/n)/(n − ddof) the DuckDB oracle reproduces
    s = (F.coalesce(F.col("__C"), zero)
         - F.coalesce(F.col("__Cp"), zero)).cast("double")
    s2 = (F.coalesce(F.col("__C2"), zero)
          - F.coalesce(F.col("__C2p"), zero)).cast("double")
    num = F.greatest(s2 - s * s / n_in, F.lit(0.0))
    val = num / (n_in - F.lit(ddof))
    if std:
        val = F.sqrt(val)
    guarded = F.when(
        (n_in >= F.lit(max(mp, 1))) & (n_in > F.lit(ddof)), val)
    return (run.join(right, cond, "left")
            .withColumn(out, guarded)
            .drop("__rn", "__C", "__N", "__C2", "__jrn", "__Cp", "__Np",
                  "__C2p", *[f"__jg_{i}" for i in range(len(gnames))]))


def grouped_expanding(
    df: DataFrame,
    group_by,
    order_by,
    value: str,
    stats=("mean",),
    min_periods: int = 1,
    ddof: int = 1,
    num_partitions: int | None = None,
) -> DataFrame:
    """Expanding mean/var/std per group in ``order_by`` order at
    few-huge-groups scale — ``GroupBy.expanding()`` semantics
    (min_periods counts NON-NULL observations; every row emits). The
    expanding frame IS the running prefix, so this is ONE
    :func:`_grouped_running` pass (sum, sum of squares, count) with no
    join at all — parallelism = partition count. Output columns
    ``{value}_expanding_{stat}``. Precision: var = (C2 − C²/N)/(N−ddof)
    carries the one-pass moment formula's cancellation when
    var ≪ mean² — the same contract as the engine's keyed var/std
    aggregates."""
    stats = [stats] if isinstance(stats, str) else list(stats)
    bad = set(stats) - {"mean", "var", "std", "sum", "count"}
    if bad:
        raise ValueError(f"unsupported expanding stats: {sorted(bad)}")
    want_sq = bool({"var", "std"} & set(stats))
    gnames = [group_by] if isinstance(group_by, str) else list(group_by)
    run = _grouped_running(df, gnames, order_by, value, num_partitions,
                           want_sq=want_sq)
    n_obs = F.col("__N")
    guard = n_obs >= F.lit(max(min_periods, 1))
    # prefix sums are exact on the decimal path; divisions happen in double
    # with the sums cast FIRST, in the canonical (C2 − C·C/n)/(n − ddof)
    # shape the DuckDB oracle reproduces (no-op casts when already double)
    cd = F.col("__C").cast("double")
    out = run
    for stat in stats:
        if stat == "sum":
            val = F.col("__C")
        elif stat == "count":
            val = n_obs.cast("double")
        elif stat == "mean":
            val = cd / n_obs
        else:  # var / std
            num = F.greatest(F.col("__C2").cast("double") - cd * cd / n_obs,
                             F.lit(0.0))
            val = F.when(n_obs > F.lit(ddof), num / (n_obs - F.lit(ddof)))
            if stat == "std":
                val = F.sqrt(val)
        out = out.withColumn(f"{value}_expanding_{stat}",
                             F.when(guard, val))
    return out.drop("__rn", "__C", "__N", "__C2")


def grouped_shift(
    df: DataFrame,
    group_by,
    order_by,
    value: str,
    n: int = 1,
    out: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Per-group shift (pandas ``GroupBy.shift``: positive n = lag,
    negative = lead) at few-huge-groups scale. One
    :func:`grouped_row_number` pass, then a narrow (group, rn + n)
    self-join fetches the partner row's value — no per-group lag window,
    parallelism = partition count, any |n| (a lag window's task must
    hold the whole group regardless of n)."""
    gnames = [group_by] if isinstance(group_by, str) else list(group_by)
    out = out or f"{value}_shift"
    rn = grouped_row_number(df, gnames, order_by, out="__srn",
                            num_partitions=num_partitions)
    right = rn.select(
        *[F.col(g).alias(f"__sg_{i}") for i, g in enumerate(gnames)],
        (F.col("__srn") + F.lit(n)).alias("__sjrn"),
        F.col(value).alias("__sval"))
    cond = F.col("__srn") == F.col("__sjrn")
    for i, g in enumerate(gnames):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__sg_{i}"))
    return (rn.join(right, cond, "left")
            .withColumn(out, F.col("__sval"))
            .drop("__srn", "__sjrn", "__sval",
                  *[f"__sg_{i}" for i in range(len(gnames))]))


def grouped_rolling_mean(
    df: DataFrame,
    group_by,
    order_by,
    value: str,
    window: int,
    min_periods: int | None = None,
    out: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Trailing rolling mean per group — see :func:`grouped_rolling_sum`."""
    return grouped_rolling_sum(df, group_by, order_by, value, window,
                               min_periods, out, num_partitions, mean=True)


_PAIR_SUMS = ("Sx", "Sy", "Sxy", "Sxx", "Syy")


def _grouped_running_pair(df, gnames, order_by, x: str, y: str,
                          num_partitions):
    """One fused range-partition pass emitting, per group in order: the
    1-based row number ``__rn``, the complete-PAIR count ``__N`` and
    the five pairwise prefix sums ``__Sx/__Sy/__Sxy/__Sxx/__Syy`` over
    PAIRWISE-COMPLETE rows — the pair analog of
    :func:`_grouped_running` for difference-based rolling cov/corr.
    The sums are of per-group ANCHORED values (x − min, y − min over
    the group's pair-complete rows — r15): cov/corr are shift-
    invariant, and anchoring keeps the prefix sums spread-sized so
    large common offsets cannot cancel catastrophically.
    Doubles throughout (cov/corr are float stats; the oracle gate's
    dyadic fixture keeps every sum exact anyway), so the
    partition-boundary offset merge is a plain coalesce-to-zero add —
    every emitted sum rides under the caller's pair-count guard."""
    gcols = [F.col(c) for c in gnames]
    ocols = _order_cols(order_by)
    n = _resolve_partitions(df, num_partitions)
    xc, yc = F.col(x).cast("double"), F.col(y).cast("double")
    both = xc.isNotNull() & yc.isNotNull()
    # r15 numerical robustness: per-group pair-complete min anchors,
    # the SAME values the window form subtracts (cov/corr are shift-
    # invariant; unanchored, the prefix sums' Σxy − ΣxΣy/n cancellation
    # returns garbage at large offsets). One extra map-side-combinable
    # aggregate over (g, x, y) only; its output is group-count-sized —
    # the few-huge-groups premise of this module — and is BROADCAST so
    # the corpus-side range partitioning is untouched (an unhinted
    # equi-join would reshuffle the corpus by group and defeat the
    # repartitionByRange below).
    anchors = df.groupBy(*gcols).agg(
        F.min(F.when(both, xc)).alias("__ax"),
        F.min(F.when(both, yc)).alias("__ay")).select(
        *[F.col(g).alias(f"__ag_{i}") for i, g in enumerate(gnames)],
        "__ax", "__ay")
    acond = F.lit(True)
    for i, g in enumerate(gnames):
        acond = acond & F.col(g).eqNullSafe(F.col(f"__ag_{i}"))
    rp = (df.join(F.broadcast(anchors), acond, "left")
          .drop(*[f"__ag_{i}" for i in range(len(gnames))])
          .repartitionByRange(n, *gcols, *ocols)
          .withColumn("__pid", F.spark_partition_id()))
    qx, qy = xc - F.col("__ax"), yc - F.col("__ay")
    comps = {"Sx": F.when(both, qx), "Sy": F.when(both, qy),
             "Sxy": F.when(both, qx * qy), "Sxx": F.when(both, qx * qx),
             "Syy": F.when(both, qy * qy)}
    w_run = (Window.partitionBy("__pid", *gcols).orderBy(*ocols)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_rn = Window.partitionBy("__pid", *gcols).orderBy(*ocols)
    local = (rp.withColumn("__lrn", F.row_number().over(w_rn))
             .withColumn("__lN",
                         F.count(F.when(both, F.lit(1))).over(w_run)))
    for k in _PAIR_SUMS:
        local = local.withColumn(f"__l{k}", F.sum(comps[k]).over(w_run))
    local = local.persist()
    bounds = local.groupBy("__pid", *gcols).agg(
        F.count(F.lit(1)).alias("__rows"),
        F.count(F.when(both, F.lit(1))).alias("__nn"),
        *[F.sum(comps[k]).alias(f"__t{k}") for k in _PAIR_SUMS])
    w_off = (Window.partitionBy(*gcols).orderBy("__pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = bounds.select(
        F.col("__pid").alias("__opid"),
        *[F.col(g).alias(f"__og_{i}") for i, g in enumerate(gnames)],
        F.coalesce(F.sum("__rows").over(w_off), F.lit(0)).alias("__orows"),
        F.coalesce(F.sum("__nn").over(w_off), F.lit(0)).alias("__onn"),
        *[F.coalesce(F.sum(f"__t{k}").over(w_off), F.lit(0.0))
          .alias(f"__o{k}") for k in _PAIR_SUMS])
    cond = F.col("__pid") == F.col("__opid")
    for i, g in enumerate(gnames):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__og_{i}"))
    out = (local.join(F.broadcast(offs), cond, "left")
           .withColumn("__rn",
                       (F.col("__lrn") + F.col("__orows")).cast("long"))
           .withColumn("__N", (F.col("__lN") + F.col("__onn")).cast("long")))
    for k in _PAIR_SUMS:
        out = out.withColumn(
            f"__{k}", F.coalesce(F.col(f"__l{k}"), F.lit(0.0))
            + F.col(f"__o{k}"))
    drop = (["__pid", "__lrn", "__lN", "__opid", "__orows", "__onn",
             "__ax", "__ay"]
            + [f"__l{k}" for k in _PAIR_SUMS]
            + [f"__o{k}" for k in _PAIR_SUMS]
            + [f"__og_{i}" for i in range(len(gnames))])
    return attach_cached(out.drop(*drop), local)


def _grouped_rolling_pair(df, group_by, order_by, x, y, window,
                          min_periods, stat, ddof, out, num_partitions):
    """Shared prefix-difference tail for pairwise rolling cov/corr at
    few-huge-groups scale: frame sums via ``C_t − C_{t−w}`` on the pair
    prefix state, then EXACTLY the window form's closed expression
    (:meth:`GroupBy._rolling_pair`) — with exact (dyadic) inputs the
    two paths ship bit-identical doubles, which is what lets them
    share one oracle."""
    if window is None or window < 1:
        raise ValueError("window must be a positive int")
    mp = window if min_periods is None else min_periods
    gnames = [group_by] if isinstance(group_by, str) else list(group_by)
    out = out or f"{x}_{y}_rolling_{stat}"
    run = _grouped_running_pair(df, gnames, order_by, x, y, num_partitions)
    right = run.select(
        *[F.col(g).alias(f"__jg_{i}") for i, g in enumerate(gnames)],
        (F.col("__rn") + F.lit(window)).alias("__jrn"),
        F.col("__N").alias("__Np"),
        *[F.col(f"__{k}").alias(f"__{k}p") for k in _PAIR_SUMS])
    cond = F.col("__rn") == F.col("__jrn")
    for i, g in enumerate(gnames):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__jg_{i}"))
    n_in = F.col("__N") - F.coalesce("__Np", F.lit(0))
    d = {k: F.col(f"__{k}") - F.coalesce(F.col(f"__{k}p"), F.lit(0.0))
         for k in _PAIR_SUMS}
    nn = n_in.cast("double")
    num = d["Sxy"] - d["Sx"] * d["Sy"] / nn
    guard = n_in >= F.lit(max(mp, 2))
    if stat == "cov":
        val = F.when(guard & (n_in > F.lit(ddof)),
                     num / (nn - F.lit(float(ddof))))
    else:
        vx = d["Sxx"] - d["Sx"] * d["Sx"] / nn
        vy = d["Syy"] - d["Sy"] * d["Sy"] / nn
        val = F.when(guard & (vx > 0) & (vy > 0), num / F.sqrt(vx * vy))
    drop = (["__rn", "__N", "__jrn", "__Np"]
            + [f"__{k}" for k in _PAIR_SUMS]
            + [f"__{k}p" for k in _PAIR_SUMS]
            + [f"__jg_{i}" for i in range(len(gnames))])
    # the _pps_cached handle on `run` does not survive .join(); re-attach
    # so release_cached on the result can free the prefix-pass persist.
    return attach_cached(
        run.join(right, cond, "left").withColumn(out, val).drop(*drop),
        *getattr(run, "_pps_cached", ()))


def grouped_rolling_cov(
    df: DataFrame,
    group_by,
    order_by,
    x: str,
    y: str,
    window: int,
    min_periods: int | None = None,
    ddof: int = 1,
    out: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Trailing rolling sample covariance of two columns per group at
    few-huge-groups scale (pandas ``rolling().cov`` pairwise-complete
    semantics — the scale twin of :meth:`GroupBy.rolling_cov`, whose
    per-group window sort degrades to one task per group exactly when
    groups are huge). One fused range-partition prefix pass + the
    standard offset-``window`` self-join; ``min_periods`` counts
    complete pairs (floor 2)."""
    return _grouped_rolling_pair(df, group_by, order_by, x, y, window,
                                 min_periods, "cov", ddof, out,
                                 num_partitions)


def grouped_rolling_corr(
    df: DataFrame,
    group_by,
    order_by,
    x: str,
    y: str,
    window: int,
    min_periods: int | None = None,
    out: str | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Trailing rolling Pearson correlation per group at
    few-huge-groups scale — see :func:`grouped_rolling_cov`; NULL where
    either frame variance is 0, like the window form."""
    return _grouped_rolling_pair(df, group_by, order_by, x, y, window,
                                 min_periods, "corr", 1, out,
                                 num_partitions)


def global_ffill(
    df: DataFrame,
    order_by,
    value: str,
    out: str | None = None,
    num_partitions: int | None = None,
    backward: bool = False,
) -> DataFrame:
    """GLOBAL forward/backward fill in ``order_by`` order — the no-key
    window (`Window.orderBy` with no partition) funnels the entire
    corpus through one task; this is :func:`grouped_ffill` over a single
    constant group spanning every range partition."""
    tagged = df.withColumn("__gall", F.lit(1))
    out_df = grouped_ffill(tagged, ["__gall"], order_by, value, out=out,
                           num_partitions=num_partitions, backward=backward)
    return out_df.drop("__gall")


def global_rolling_sum(
    df: DataFrame,
    order_by,
    value: str,
    window: int,
    min_periods: int | None = None,
    out: str | None = None,
    num_partitions: int | None = None,
    mean: bool = False,
) -> DataFrame:
    """GLOBAL trailing rolling sum/mean — :func:`grouped_rolling_sum`
    over a single constant group (same rationale as :func:`global_ffill`)."""
    tagged = df.withColumn("__gall", F.lit(1))
    out_df = grouped_rolling_sum(tagged, ["__gall"], order_by, value,
                                 window, min_periods, out,
                                 num_partitions, mean=mean)
    return out_df.drop("__gall")


def global_rank_cumsum(
    df: DataFrame,
    order_by,
    value,
    rank_out: str = "rank",
    cum_out: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global row number AND running total of ``value`` in ONE range
    partitioning pass (chaining :func:`global_row_number` then
    :func:`global_cumsum` costs two range shuffles over the same order —
    fused, both per-partition computations and both prefix offsets come
    from a single partitioning and a single one-row-per-partition frame).
    """
    rp, cols = _ranged(df, order_by, num_partitions)
    v = F.col(value) if isinstance(value, str) else value
    w_row = Window.partitionBy("__pid").orderBy(*cols)
    w_cum = w_row.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # pinned: same two-branch boundary-divergence hazard as global_row_number
    local = (rp.withColumn("__lrn", F.row_number().over(w_row))
             .withColumn("__lcum", F.sum(v).over(w_cum)).persist())
    per_pid = local.groupBy("__pid").agg(
        F.count(F.lit(1)).alias("__cnt"), F.sum(v).alias("__tot"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = per_pid.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__rnoff"),
        F.sum("__tot").over(w_off).alias("__cumoff"))
    cum = F.when(
        F.col("__lcum").isNull() & F.col("__cumoff").isNull(), F.lit(None)
    ).otherwise(
        F.coalesce(F.col("__lcum"), F.lit(0))
        + F.coalesce(F.col("__cumoff"), F.lit(0))
    )
    out = (
        local.join(F.broadcast(offs), "__pid")
        .withColumn(rank_out, (F.col("__lrn") + F.col("__rnoff")).cast("long"))
        .withColumn(cum_out, cum)
        .drop("__pid", "__lrn", "__lcum", "__rnoff", "__cumoff")
    )
    return attach_cached(out, local)


def global_shift(
    df: DataFrame,
    order_by,
    cols: list[str] | str,
    n: int = 1,
    suffix: str = "_shift",
    num_partitions: int | None = None,
) -> DataFrame:
    """Global lag (n > 0) / lead (n < 0) of ``cols`` in ``order_by`` order.

    Robust for any |n| (even when a range partition holds fewer than n
    rows): assign global row numbers, then self-equi-join on
    ``rn = rn − n`` — a hash join on a unique key, no boundary-row
    special-casing. Two shuffles; prefer a keyed ``GroupBy.shift`` when a
    partition key exists."""
    cols = [cols] if isinstance(cols, str) else list(cols)
    base = global_row_number(df, order_by, out="__grn",
                             num_partitions=num_partitions)
    shifted = base.select(
        (F.col("__grn") + F.lit(n)).alias("__grn"),
        *[F.col(c).alias(f"{c}{suffix}") for c in cols])
    # the _pps_cached handle on `base` does not survive .join(); re-attach so
    # release_cached on the result frees global_row_number's pinned persist
    return attach_cached(
        base.join(shifted, "__grn", "left").drop("__grn"),
        *getattr(base, "_pps_cached", ()))


def global_ntile(
    df: DataFrame,
    order_by,
    n_tiles: int,
    out: str = "tile",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact ``ntile(n_tiles)`` semantics without the single-task sort.

    SQL ntile: with N rows, q = N div k, r = N mod k, the first r tiles
    get q+1 rows. Computed from the global row number + the total count
    (one broadcast scalar) by closed form — bit-identical to the window
    function's assignment for any total order."""
    base = global_row_number(df, order_by, out="__grn",
                             num_partitions=num_partitions)
    cnt = base.agg(F.count(F.lit(1)).alias("__n"))
    k = F.lit(n_tiles).cast("long")
    q = (F.col("__n") / k).cast("long")          # floor: both nonneg
    r = F.col("__n") % k
    big = (q + 1) * r                            # rows covered by q+1 tiles
    rn = F.col("__grn")
    # integer ceil(a/b) = (a + b - 1) div b, all nonneg longs
    tile = F.when(
        rn <= big, ((rn + q) / (q + 1)).cast("long")
    ).otherwise(
        r + F.when(q > 0, ((rn - big + q - 1) / q).cast("long")).otherwise(F.lit(0))
    )
    # re-attach the persist handle lost through .crossJoin (see global_shift)
    return attach_cached(
        base.crossJoin(F.broadcast(cnt))
        .withColumn(out, tile.cast("int"))
        .drop("__grn", "__n"),
        *getattr(base, "_pps_cached", ()))
