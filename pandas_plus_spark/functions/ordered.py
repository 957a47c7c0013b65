"""Distributed ordered operators — no partition key, no bottleneck.

A window with ORDER BY but no PARTITION BY funnels every row through one
task (`WindowExec: No Partition Defined`) — the classic Spark scale-killer
for globally-ordered computations (running totals, global row numbers,
exact quantile tiles) — and ``Window.partitionBy(group)`` does the same to
each group when groups are few and huge. Every operator here rides ONE
two-phase pass, :func:`_two_phase`, the one place in this module that
range-partitions and pins a frame:

1. ``repartitionByRange`` on the (group, order) keys — partition i holds a
   contiguous key range, all ranges ordered end-to-end, and a huge group
   spans many consecutive partitions;
2. the ordered computation runs per (partition, group) (parallel), plus a
   carry computed from ONE tiny row-per-(partition, group) boundary frame
   (its window over the preceding partitions is over ≤ num_partitions
   rows per group, harmless at any data size) broadcast back.

The global operators are that pass with no group columns. Rolling, shift
and rank add one row-offset self-join on (group, row number ± k),
:func:`_offset_join`.

Semantics match the single-window equivalent exactly when the order keys
are a total order; under ties, per-row outputs are tie-order-dependent in
both formulations (pass tiebreak columns).

The reference's ordered kernels (cumsum/shift/rank over implicit array
order, reference numba.py:438-555) get their order from array position;
here order is explicit columns, per SURVEY §7.4 R12.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..util import analyzed_size_bytes, attach_cached


def _order_cols(order_by) -> list[Column]:
    if isinstance(order_by, (list, tuple)):
        return [F.col(c) if isinstance(c, str) else c for c in order_by]
    return [F.col(order_by) if isinstance(order_by, str) else order_by]


def _running(w):
    """``w`` framed to the running prefix: rows up to and including this
    one."""
    return w.rowsBetween(Window.unboundedPreceding, Window.currentRow)


def _names(group_by) -> list[str]:
    return [group_by] if isinstance(group_by, str) else list(group_by)


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


def _prefix_sum(local: str, carry: str, zero: Column) -> Column:
    """``local + carry`` with window-sum null semantics: NULL iff the whole
    prefix is null (the local prefix AND every earlier partition's total);
    otherwise nulls are skipped — each side coalesced to ``zero``."""
    lc, oc = F.col(local), F.col(carry)
    return F.when(lc.isNull() & oc.isNull(), F.lit(None)).otherwise(
        F.coalesce(lc, zero) + F.coalesce(oc, zero))


def _group_keys(gnames, prefix: str):
    """The group columns renamed ``{prefix}0, {prefix}1, ...`` for the
    other side of a join, and those names (dropped after it)."""
    names = [f"{prefix}{i}" for i in range(len(gnames))]
    return [F.col(g).alias(a) for g, a in zip(gnames, names)], names


def _group_match(gnames, aliases, cond: Column | None = None) -> Column:
    """``cond`` AND a null-safe match of every group column with its alias
    on the other side of the join (a NULL group key is a group like any
    other, and can span partitions)."""
    for g, a in zip(gnames, aliases):
        m = F.col(g).eqNullSafe(F.col(a))
        cond = m if cond is None else cond & m
    return cond


def _inherit(out: DataFrame, *srcs: DataFrame) -> DataFrame:
    """``out`` holding the pinned intermediates of the frames it derives
    from: every DataFrame method returns a new frame without their
    handles, and ``release_cached`` on a frame without them frees
    nothing."""
    return attach_cached(
        out, *[h for s in srcs for h in getattr(s, "_pps_cached", ())])


def _two_phase(df, gnames, order_by, num_partitions, local, bounds, carry,
               combine, backward: bool = False,
               storage=StorageLevel.MEMORY_AND_DISK_DESER) -> DataFrame:
    """The range-partition pass every operator of this module rides.

    ``repartitionByRange`` on ``(*gnames, *order_by)`` and a ``__pid``
    partition tag; ``local(w)`` gives the per-partition window columns
    ``[(name, col)]`` over ``w`` = the (partition, group) rows in order;
    that frame is pinned; ``bounds`` aggregates it to ONE row per
    (partition, group); ``carry(w)`` gives ``[(name, col)]`` over ``w`` =
    the same group's PRECEDING partitions of that boundary frame, which
    is broadcast and null-safe-joined back; ``combine`` (``[(name,
    col)]``) computes the outputs from the local and carry columns, which
    are then dropped with the pass's own scratch columns. ``backward``
    reverses the local order and the carry direction. With no group
    columns it is the global pass (one carry over all partitions)."""
    gcols = [F.col(g) for g in gnames]
    ocols = _order_cols(order_by)
    n = _resolve_partitions(df, num_partitions)
    rp = df.repartitionByRange(n, *gcols, *ocols).withColumn(
        "__pid", F.spark_partition_id())
    w_local = Window.partitionBy("__pid", *gcols).orderBy(
        *([c.desc() for c in ocols] if backward else ocols))
    lcols = local(w_local)
    pinned = rp
    for name, col in lcols:
        pinned = pinned.withColumn(name, col)
    # PINNED: repartitionByRange samples its boundaries per execution, and
    # this frame feeds TWO plan branches (the rows and the boundary
    # frame). Unpinned, each branch can re-execute the exchange with
    # different sampled boundaries — __pid then disagrees between the
    # branches and the carries corrupt the result. The pin makes both
    # branches read one materialization (the same hazard class as dedup's
    # bucket self-joins; released via util.release_cached).
    #
    # persist(), NOT util.lineage_cut (r16 measured decision): the frame is
    # the FULL input plus its window columns, and a localCheckpoint
    # replaces the columnar InMemoryRelation scan with a row-format
    # LogicalRDD — a per-row cost that scales with the data (same-boot
    # order-reversed A/B: group_rank_scale 1.64 -> 1.95 s, token_budget
    # 0.79 -> 0.88 s with the cut, both halves consistent) for a
    # planning-only win. Cuts stay on the small-by-construction frames
    # (LSH entries, vocab counts) where the trade runs the other way.
    #
    # Fault-tolerance trade: persist() is NOT a barrier against the
    # boundary hazard above. If a cached block is lost (executor loss,
    # eviction), Spark recomputes that partition from lineage — which
    # re-samples the range boundaries, so the recomputed rows can carry a
    # different __pid than the surviving blocks and the result is
    # silently wrong. A localCheckpoint fails the job loudly instead (see
    # util.lineage_cut's "not fault-tolerant" note). At cluster scale
    # these pins want a deterministic partition key.
    pinned = pinned.persist(storage)
    w_carry = (Window.partitionBy(*gcols)
               .orderBy(F.col("__pid").desc() if backward else F.col("__pid"))
               .rowsBetween(Window.unboundedPreceding, -1))
    ccols = carry(w_carry)
    og, og_names = _group_keys(gnames, "__og_")
    offs = pinned.groupBy("__pid", *gcols).agg(*bounds).select(
        F.col("__pid").alias("__opid"), *og,
        *[col.alias(name) for name, col in ccols])
    # each (partition, group) of the pinned rows has exactly one boundary
    # row, so the join neither drops nor repeats rows; a group's first
    # partition reads NULL carries (nothing precedes it)
    out = pinned.join(
        F.broadcast(offs),
        _group_match(gnames, og_names, F.col("__pid") == F.col("__opid")),
        "left")
    for name, col in combine:
        out = out.withColumn(name, col)
    out = out.drop("__pid", "__opid", *og_names,
                   *[name for name, _ in lcols], *[name for name, _ in ccols])
    return attach_cached(out, pinned)


def _offset_join(run, gnames, rn: str, k: int, take: dict, outputs,
                 scratch=()) -> DataFrame:
    """Left self-join of ``run`` on (group, ``rn`` − k): every row meets
    the row k places before it in its group (after it for k < 0) and
    reads that row's columns ``take`` = ``{column: alias}`` (NULL when
    there is none). A plain hash join on a narrow projection — no
    per-group lag window, parallelism = partition count, any |k|.
    ``outputs`` (``[(name, col)]``) are computed from both sides; ``rn``,
    the aliases and ``scratch`` are dropped."""
    jg, jg_names = _group_keys(gnames, "__jg_")
    right = run.select(*jg, (F.col(rn) + F.lit(k)).alias("__jrn"),
                       *[F.col(c).alias(a) for c, a in take.items()])
    out = run.join(
        right, _group_match(gnames, jg_names, F.col(rn) == F.col("__jrn")),
        "left")
    for name, col in outputs:
        out = out.withColumn(name, col)
    return _inherit(
        out.drop(rn, "__jrn", *jg_names, *take.values(), *scratch), run)


def global_row_number(
    df: DataFrame,
    order_by,
    out: str = "row_number",
    num_partitions: int | None = None,
) -> DataFrame:
    """1-based global row number in ``order_by`` order, fully distributed.

    Within-partition ``row_number`` + the cumulative count of earlier
    partitions (a broadcast of one row per partition)."""
    return grouped_row_number(df, [], order_by, out=out,
                              num_partitions=num_partitions)


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
    return grouped_cumsum(df, [], order_by, value, out=out,
                          num_partitions=num_partitions)


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
    v = F.col(value) if isinstance(value, str) else value
    return _two_phase(
        df, _names(group_by), order_by, num_partitions,
        local=lambda w: [("__lcum", F.sum(v).over(_running(w)))],
        bounds=[F.sum(v).alias("__tot")],
        carry=lambda w: [("__off", F.sum("__tot").over(w))],
        combine=[(out, _prefix_sum("__lcum", "__off", F.lit(0)))])


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
    gnames = _names(group_by)
    w_tot = Window.partitionBy(*gnames).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    combine = [(out, (F.col("__lrn") + F.col("__off")).cast("long"))]
    if size is not None:
        combine.append((size, F.col("__tot").cast("long")))
    return _two_phase(
        df, gnames, order_by, num_partitions,
        local=lambda w: [("__lrn", F.row_number().over(w))],
        bounds=[F.count(F.lit(1)).alias("__cnt")],
        carry=lambda w: [
            ("__off", F.coalesce(F.sum("__cnt").over(w), F.lit(0))),
            ("__tot", F.sum("__cnt").over(w_tot))],
        combine=combine)


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
    return _inherit(rn.filter(cond).drop("__grn", "__gsz"), rn)


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
    out = out or f"{value}_{'bfill' if backward else 'ffill'}"
    # the partition's boundary fill = the local fill at its max-order row
    # (min-order row for backward)
    boundary_pick = F.min_by if backward else F.max_by
    return _two_phase(
        df, _names(group_by), order_by, num_partitions,
        local=lambda w: [("__lff", F.last(F.col(value), ignorenulls=True)
                          .over(_running(w)))],
        bounds=[boundary_pick("__lff", F.struct(*_order_cols(order_by)))
                .alias("__lastnn")],
        carry=lambda w: [("__carry", F.last("__lastnn", ignorenulls=True)
                          .over(w))],
        combine=[(out, F.coalesce(F.col("__lff"), F.col("__carry")))],
        backward=backward)


def _grouped_running(df, gnames, order_by, value, num_partitions,
                     want_sq: bool = False):
    """One fused range-partition pass emitting, per group in order: the
    1-based row number ``__rn``, the null-skipping running sum ``__C``
    and the non-null running count ``__N`` (plus the running sum of
    squares ``__C2`` when ``want_sq``) — the prefix state every
    difference-based rolling/shift/expanding operator needs."""
    v = F.col(value)
    zero = _sum_zero(df, value)

    def local(w):
        run = _running(w)
        cols = [("__lrn", F.row_number().over(w)),
                ("__lC", F.sum(v).over(run)),
                ("__lN", F.count(v).over(run))]
        if want_sq:
            cols.append(("__lC2", F.sum(v * v).over(run)))
        return cols

    def carry(w):
        cols = [("__orows", F.coalesce(F.sum("__rows").over(w), F.lit(0))),
                ("__osum", F.sum("__tot").over(w)),
                ("__onn", F.coalesce(F.sum("__nn").over(w), F.lit(0)))]
        if want_sq:
            cols.append(("__osum2", F.sum("__tot2").over(w)))
        return cols

    bounds = [F.count(F.lit(1)).alias("__rows"), F.sum(v).alias("__tot"),
              F.count(v).alias("__nn")]
    combine = [("__rn", (F.col("__lrn") + F.col("__orows")).cast("long")),
               ("__C", _prefix_sum("__lC", "__osum", zero)),
               ("__N", (F.col("__lN") + F.col("__onn")).cast("long"))]
    if want_sq:
        bounds.append(F.sum(v * v).alias("__tot2"))
        combine.append(("__C2", _prefix_sum("__lC2", "__osum2", zero)))
    return _two_phase(df, gnames, order_by, num_partitions,
                      local, bounds, carry, combine)


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
    = window; every row emits). One :func:`grouped_rolling_stats` stat.

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
    return grouped_rolling_stats(
        df, group_by, order_by, value, window,
        [("mean" if mean else "sum", out)], min_periods,
        num_partitions=num_partitions)


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
    ``{value}_rolling_{stat}``). :func:`grouped_rolling_sum`, ``_mean``
    and ``_var`` are single-stat calls of this operator. On the DECIMAL
    input path the frame sums are exact differences, cast to double
    before any division — the canonical double expression shapes the
    DuckDB oracles mirror."""
    if window is None or window < 1:
        raise ValueError("window must be a positive int")
    stats = [(s, o or f"{value}_rolling_{s}") for s, o in stats]
    allowed = {"sum", "mean", "var", "std", "count"}
    bad = {s for s, _ in stats} - allowed
    if bad:
        raise ValueError(f"unsupported rolling stats: {sorted(bad)}")
    mp = window if min_periods is None else min_periods
    gnames = _names(group_by)
    want_sq = bool({"var", "std"} & {s for s, _ in stats})
    run = _grouped_running(df, gnames, order_by, value, num_partitions,
                           want_sq=want_sq)
    take = {"__C": "__Cp", "__N": "__Np"}
    if want_sq:
        take["__C2"] = "__C2p"
    zero = _sum_zero(df, value)
    n_in = F.col("__N") - F.coalesce("__Np", F.lit(0))
    s_raw = F.coalesce(F.col("__C"), zero) - F.coalesce(F.col("__Cp"), zero)
    sd = s_raw.cast("double")
    if want_sq:
        s2d = (F.coalesce(F.col("__C2"), zero)
               - F.coalesce(F.col("__C2p"), zero)).cast("double")
    guard = n_in >= F.lit(max(mp, 1))
    outputs = []
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
            # one-pass moments: (S2 − S·S/n)/(n − ddof), cancellation when
            # var ≪ mean² (the keyed var aggregates' contract)
            num = F.greatest(s2d - sd * sd / n_in, F.lit(0.0))
            val = num / (n_in - F.lit(ddof))
            if stat == "std":
                val = F.sqrt(val)
            expr = F.when(guard & (n_in > F.lit(ddof)), val)
        outputs.append((oname, expr))
    return _offset_join(run, gnames, "__rn", window, take, outputs,
                        scratch=list(take))


def _grouped_multi_cumsum(df, gnames, order_by, pairs, num_partitions):
    """:func:`grouped_cumsum` over SEVERAL value columns in one fused
    range-partition pass (one exchange, one persist, one boundary frame
    with all the offsets) — ``pairs`` = [(value_col, out_col), ...].
    Same null semantics per column as grouped_cumsum."""
    # DISK_ONLY pin: this frame can be corpus-sized and each of its two
    # consumers reads it once more — on an 8g local heap a MEMORY_AND_DISK
    # copy starves the downstream hash aggregates' execution pool
    # (measured SparkOutOfMemoryError at 100M rows), while the disk
    # round-trip is two sequential scans.
    vals = list(enumerate(pairs))
    return _two_phase(
        df, gnames, order_by, num_partitions,
        local=lambda w: [(f"__mlc_{i}", F.sum(vc).over(_running(w)))
                         for i, (vc, _) in vals],
        bounds=[F.sum(vc).alias(f"__mt_{i}") for i, (vc, _) in vals],
        carry=lambda w: [(f"__mo_{i}", F.sum(f"__mt_{i}").over(w))
                         for i, _ in vals],
        combine=[(oc, _prefix_sum(f"__mlc_{i}", f"__mo_{i}",
                                  _sum_zero(df, vc)))
                 for i, (vc, oc) in vals],
        storage=StorageLevel.DISK_ONLY)


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
    gnames = _names(group_by)
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
    if unique_on:
        return _inherit(
            stats.select(*gnames, F.col(on),
                         F.col("__vraw").alias(value), *outcols), run)
    rg, rg_names = _group_keys(gnames, "__rg_")
    per_key = stats.select(*rg, F.col(on).alias("__ron"), *outcols)
    return _inherit(
        df.join(per_key,
                _group_match(gnames, rg_names, F.col(on) == F.col("__ron")),
                "left").drop("__ron", *rg_names), run)




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
    gnames = _names(group_by)
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
    tg, tg_names = _group_keys(gnames, "__tg_")
    # value non-null on both sides at matches
    tie_match = _group_match(gnames, tg_names, v == F.col("__tv"))
    if not any(m == "first" for m, _, _ in methods):
        cnt = (df.filter(v.isNotNull())
               .groupBy(*gnames, value)
               .agg(F.count(F.lit(1)).alias("__tcnt")))
        run = _grouped_running(cnt, gnames, [vord], "__tcnt",
                               num_partitions)
        ties = run.select(
            *tg, F.col(value).alias("__tv"),
            (F.col("__C") - F.col("__tcnt") + F.lit(1)).cast("long")
            .alias("__tmin"),
            F.col("__C").cast("long").alias("__tmax"),
            F.col("__rn").alias("__tdense"))
        joined = _rank_exprs(df.join(ties, tie_match, "left"), ties, gnames,
                             methods, v, need_sizes, rrn=None)
        return _inherit(
            joined.drop("__tmin", "__tmax", "__tv", "__tdense", *tg_names),
            run)
    order = [vord] + _order_cols(tiebreak)
    rn = grouped_row_number(df, gnames, order, out="__rrn",
                            num_partitions=num_partitions)
    if all(m == "first" and not p for m, p, _ in methods):
        out_df = rn
        for _, _, oname in methods:
            out_df = out_df.withColumn(
                oname, F.when(v.isNotNull(), F.col("__rrn").cast("double")))
        return _inherit(out_df.drop("__rrn"), rn)
    ties = rn.filter(v.isNotNull()).groupBy(*gnames, value).agg(
        F.min("__rrn").alias("__tmin"), F.max("__rrn").alias("__tmax"))
    if need_dense:
        ties = grouped_row_number(
            ties, gnames, [vord], out="__tdense",
            num_partitions=num_partitions)
    tcols = [*tg, F.col(value).alias("__tv"), "__tmin", "__tmax"]
    if need_dense:
        tcols.append("__tdense")
    tied = ties.select(*tcols)
    joined = _rank_exprs(rn.join(tied, tie_match, "left"), tied, gnames,
                         methods, v, need_sizes, rrn="__rrn")
    return _inherit(
        joined.drop("__rrn", "__tmin", "__tmax", "__tv", "__tdense",
                    *tg_names), rn, ties)


def _rank_exprs(joined, ties, gnames, methods, v, need_sizes, rrn):
    """Shared tail of :func:`grouped_rank`: the per-group size frame and
    the per-method rank expressions. Sizes derive from the TIE frame, not
    another corpus-wide aggregate — Σ(tmax − tmin + 1) over tie rows is
    the group's non-null count and count(*) its distinct count, so one
    tiny agg replaces a full corpus scan + two-phase count_distinct (r9:
    that corpus-side count_distinct was both the biggest codegen unit and
    a second full-corpus exchange in this plan). The size columns are
    dropped again here."""
    sg_names = []
    if need_sizes:
        tg_names = [f"__tg_{i}" for i in range(len(gnames))]
        sg, sg_names = _group_keys(tg_names, "__sg_")
        sizes = (ties.groupBy(*tg_names)
                 .agg(F.sum(F.col("__tmax") - F.col("__tmin") + F.lit(1))
                      .cast("long").alias("__gnn"),
                      F.count(F.lit(1)).alias("__gnd"))
                 .select(*sg, "__gnn", "__gnd"))
        joined = joined.join(sizes, _group_match(gnames, sg_names), "left")
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
    if need_sizes:
        joined = joined.drop("__gnn", "__gnd", *sg_names)
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
    # least/greatest skip nulls (SQL semantics), matching the window
    # aggregate: null iff no observation in the whole prefix
    return _two_phase(
        df, _names(group_by), order_by, num_partitions,
        local=lambda w: [("__lm", agg(F.col(value))
                          .over(_running(w)))],
        bounds=[agg(F.col(value)).alias("__bm")],
        carry=lambda w: [("__om", agg("__bm").over(w))],
        combine=[(out or f"{value}_cum{op}",
                  pick(F.col("__lm"), F.col("__om")))])


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
    var = (S2 − S²/n)/(n − ddof). One :func:`grouped_rolling_stats`
    stat. Same one-pass-moment precision contract as the keyed var
    aggregates (cancellation when var ≪ mean²) stacked on the
    prefix-difference contract."""
    return grouped_rolling_stats(
        df, group_by, order_by, value, window,
        [("std" if std else "var", out)], min_periods, ddof, num_partitions)


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
    run = _grouped_running(df, _names(group_by), order_by, value,
                           num_partitions, want_sq=want_sq)
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
    return _inherit(out.drop("__rn", "__C", "__N", "__C2"), run)


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
    gnames = _names(group_by)
    rn = grouped_row_number(df, gnames, order_by, out="__srn",
                            num_partitions=num_partitions)
    return _offset_join(rn, gnames, "__srn", n, {value: "__sval"},
                        [(out or f"{value}_shift", F.col("__sval"))])


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
    return grouped_rolling_stats(df, group_by, order_by, value, window,
                                 [("mean", out)], min_periods,
                                 num_partitions=num_partitions)


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
    # range partitioning of the pass).
    ag, ag_names = _group_keys(gnames, "__ag_")
    anchors = df.groupBy(*gnames).agg(
        F.min(F.when(both, xc)).alias("__ax"),
        F.min(F.when(both, yc)).alias("__ay")).select(*ag, "__ax", "__ay")
    anchored = (df.join(F.broadcast(anchors),
                        _group_match(gnames, ag_names), "left")
                .drop(*ag_names))
    qx, qy = xc - F.col("__ax"), yc - F.col("__ay")
    comps = {"Sx": F.when(both, qx), "Sy": F.when(both, qy),
             "Sxy": F.when(both, qx * qy), "Sxx": F.when(both, qx * qx),
             "Syy": F.when(both, qy * qy)}
    n_pairs = F.count(F.when(both, F.lit(1)))

    def local(w):
        run = _running(w)
        return [("__lrn", F.row_number().over(w)),
                ("__lN", n_pairs.over(run)),
                *[(f"__l{k}", F.sum(comps[k]).over(run)) for k in _PAIR_SUMS]]

    def carry(w):
        return [("__orows", F.coalesce(F.sum("__rows").over(w), F.lit(0))),
                ("__onn", F.coalesce(F.sum("__nn").over(w), F.lit(0))),
                *[(f"__o{k}", F.coalesce(F.sum(f"__t{k}").over(w), F.lit(0.0)))
                  for k in _PAIR_SUMS]]

    # partition count from the input's size, not the anchor join's estimate
    run = _two_phase(
        anchored, gnames, order_by, _resolve_partitions(df, num_partitions),
        local,
        bounds=[F.count(F.lit(1)).alias("__rows"), n_pairs.alias("__nn"),
                *[F.sum(comps[k]).alias(f"__t{k}") for k in _PAIR_SUMS]],
        carry=carry,
        combine=[
            ("__rn", (F.col("__lrn") + F.col("__orows")).cast("long")),
            ("__N", (F.col("__lN") + F.col("__onn")).cast("long")),
            *[(f"__{k}", F.coalesce(F.col(f"__l{k}"), F.lit(0.0))
               + F.col(f"__o{k}")) for k in _PAIR_SUMS]])
    return _inherit(run.drop("__ax", "__ay"), run)


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
    gnames = _names(group_by)
    run = _grouped_running_pair(df, gnames, order_by, x, y, num_partitions)
    take = {f"__{k}": f"__{k}p" for k in ("N", *_PAIR_SUMS)}
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
    return _offset_join(run, gnames, "__rn", window, take,
                        [(out or f"{x}_{y}_rolling_{stat}", val)],
                        scratch=list(take))


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
    return _inherit(out_df.drop("__gall"), out_df)


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
    return _inherit(out_df.drop("__gall"), out_df)


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
    v = F.col(value) if isinstance(value, str) else value
    return _two_phase(
        df, [], order_by, num_partitions,
        local=lambda w: [("__lrn", F.row_number().over(w)),
                         ("__lcum", F.sum(v).over(_running(w)))],
        bounds=[F.count(F.lit(1)).alias("__cnt"), F.sum(v).alias("__tot")],
        carry=lambda w: [
            ("__rnoff", F.coalesce(F.sum("__cnt").over(w), F.lit(0))),
            ("__cumoff", F.sum("__tot").over(w))],
        combine=[
            (rank_out, (F.col("__lrn") + F.col("__rnoff")).cast("long")),
            (cum_out, _prefix_sum("__lcum", "__cumoff", F.lit(0)))])


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
    return _inherit(base.join(shifted, "__grn", "left").drop("__grn"), base)


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
    return _inherit(
        base.crossJoin(F.broadcast(cnt))
        .withColumn(out, tile.cast("int"))
        .drop("__grn", "__n"), base)
