"""Join operators beyond Spark's built-ins.

The reference implements no joins at all (SURVEY §2.11) — plain equi-joins
pass straight through to Spark. What the engine adds are the shapes Spark
lacks as primitives:

- asof_join: for each left row, the most recent right row at-or-before its
  timestamp per key (direction='backward'; 'forward' mirrors). Implemented as
  the one-shuffle union-merge: tag both sides, union, one window sorted by
  (key, ts, side) carrying the right payload forward with
  last_value(ignoreNulls). No range explosion, no per-key driver loop;
  state per window partition is O(1). This is how production as-of joins are
  done on Spark at market-data scale.
- broadcast_dim_join: explicit broadcast of a small dimension table — the
  join every star-schema query at 100 TB should be doing instead of a
  shuffle join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..util import analyzed_size_bytes


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    by: list[str] | str,
    right_cols: list[str],
    direction: str = "backward",
    tolerance=None,
    suffix: str = "_right",
) -> DataFrame:
    """Left as-of join: attach, to every left row, ``right_cols`` from the
    right row with the greatest ``on`` ≤ left.``on`` (backward), smallest
    ``on`` ≥ left.``on`` (forward), or the closer of the two
    (``nearest``, ties to backward — pandas ``merge_asof`` semantics),
    within the same ``by`` key.

    tolerance: optional max |left.on − right.on| (same units as ``on``);
    matches farther away are nulled, mirroring pandas ``merge_asof``
    (for ``nearest`` the tolerance filters each side BEFORE picking the
    closer, as pandas does).
    """
    by = [by] if isinstance(by, str) else list(by)
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError("direction must be one of "
                         "'backward', 'forward', 'nearest'")

    payload = F.struct(F.col(on).alias("__r_on"),
                       *[F.col(c) for c in right_cols]).alias("__r")
    l_tag = left.withColumn("__is_left", F.lit(1)).withColumn("__r", F.lit(None).cast(
        right.select(payload).schema["__r"].dataType))
    r_tag = (right.select(*by, F.col(on), payload)
             .withColumn("__is_left", F.lit(0)))
    # align columns for the union: left keeps its full schema; right rows
    # carry nulls for left-only columns.
    for c in left.columns:
        if c not in r_tag.columns:
            r_tag = r_tag.withColumn(c, F.lit(None).cast(dict(left.dtypes)[c]))
    unioned = l_tag.unionByName(r_tag.select(*l_tag.columns))

    # At equal timestamps the right row must be visible to the left row →
    # right (0) sorts before left (1) in each direction's sort order.
    w_back = (Window.partitionBy(*by)
              .orderBy(F.col(on).asc(), F.col("__is_left").asc())
              .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_fwd = (Window.partitionBy(*by)
             .orderBy(F.col(on).desc(), F.col("__is_left").asc())
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))

    def ok_and_dist(match: Column, backward: bool):
        ok: Column = match.isNotNull()
        dist = (F.col(on) - match["__r_on"] if backward
                else match["__r_on"] - F.col(on))
        if tolerance is not None:
            ok = ok & (dist <= tolerance)
        return ok, dist

    if direction == "nearest":
        # both candidate windows share one hash exchange on ``by``; the
        # second WindowExec re-sorts the same partitions (no extra
        # shuffle). Pick the closer WITHIN-TOLERANCE candidate per row,
        # ties to backward — pandas merge_asof semantics.
        matched = (unioned
                   .withColumn("__mb", F.last("__r", ignorenulls=True).over(w_back))
                   .withColumn("__mf", F.last("__r", ignorenulls=True).over(w_fwd)))
        out = matched.filter(F.col("__is_left") == 1).drop("__is_left", "__r")
        ok_b, d_b = ok_and_dist(F.col("__mb"), backward=True)
        ok_f, d_f = ok_and_dist(F.col("__mf"), backward=False)
        use_b = ok_b & (~ok_f | (d_b <= d_f))
        for c in right_cols:
            out = out.withColumn(
                f"{c}{suffix}",
                F.when(use_b, F.col(f"__mb.{c}"))
                 .when(ok_f, F.col(f"__mf.{c}")))
        return out.drop("__mb", "__mf")

    w = w_back if direction == "backward" else w_fwd
    matched = unioned.withColumn("__match", F.last("__r", ignorenulls=True).over(w))
    out = matched.filter(F.col("__is_left") == 1).drop("__is_left", "__r")
    match_ok, _ = ok_and_dist(F.col("__match"), backward=(direction == "backward"))
    for c in right_cols:
        out = out.withColumn(f"{c}{suffix}",
                             F.when(match_ok, F.col(f"__match.{c}")))
    return out.drop("__match")


def broadcast_dim_join(fact: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """Equi-join with the dimension side explicitly broadcast. At 100 TB the
    fact side never moves; each executor streams its partitions against the
    in-memory dim hash map."""
    return fact.join(F.broadcast(dim), on=on, how=how)


def interval_join(
    left: DataFrame,
    right: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    by: list[str] | str | None = None,
    bucket_width: int | None = None,
    right_cols: list[str] | None = None,
) -> DataFrame:
    """Point-in-interval join: attach to each left row the right rows whose
    [start, end] contains its ``point_col`` (inclusive), optionally keyed.

    Naively this is a non-equi join → BroadcastNestedLoop / cartesian. With
    ``bucket_width`` both sides map to integer buckets (intervals explode to
    every bucket they overlap) and the join becomes a shuffled EQUI-join on
    (keys..., bucket) + an exact containment filter — the standard interval-
    bucketing trick; bucket_width should be on the order of typical interval
    length. Without it, falls back to the non-equi join (small right side
    only).
    """
    by = [by] if isinstance(by, str) else list(by or [])
    rcols = right_cols if right_cols is not None else [
        c for c in right.columns if c not in by]
    cond = [left[point_col] >= right[start_col], left[point_col] <= right[end_col]]
    if bucket_width is None:
        joined = left.join(F.broadcast(right),
                           [*[left[k] == right[k] for k in by], *cond], "left")
        return joined.select(left["*"], *[right[c] for c in rcols])

    # bucketed path is INNER-join semantics (a left row can match a bucket
    # yet fail containment; resurrecting it as unmatched would need a second
    # anti-join — callers needing left semantics use the non-bucketed path).
    lb = left.withColumn("__bucket", F.floor(F.col(point_col) / bucket_width))
    rb = right.withColumn(
        "__bucket",
        F.explode(F.sequence(F.floor(F.col(start_col) / bucket_width),
                             F.floor(F.col(end_col) / bucket_width))),
    )
    joined = lb.join(rb, [*by, "__bucket"]).where(
        (F.col(point_col) >= F.col(start_col)) & (F.col(point_col) <= F.col(end_col))
    )
    return joined.drop("__bucket")


def _deletion_variants(c: Column, max_dist: int) -> Column:
    """All strings reachable from ``c`` by deleting up to ``max_dist``
    characters (the SymSpell blocking key set), as a distinct array.
    Pure column expressions — substring splice per position; the
    sequence is guarded because Spark's ``sequence(1, 0)`` DESCENDS
    instead of returning empty."""
    empty = F.array().cast("array<string>")

    def dels(s: Column) -> Column:
        n = F.length(s)
        return F.when(n > 0, F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat(
                F.substring(s, F.lit(1), i - 1),
                F.substring(s, i + 1, n)))).otherwise(empty)

    out = F.array(c)
    d1 = dels(c)
    if max_dist >= 1:
        out = F.concat(out, d1)
    if max_dist >= 2:
        out = F.concat(out, F.flatten(F.transform(d1, dels)))
    return F.array_distinct(out)


def _exploded_size_bound(d: DataFrame, max_len: int,
                         max_dist: int) -> int | None:
    """Conservative bound on a frame's size AFTER the deletion-variant
    explode: Catalyst's analyzed sizeInBytes × the worst-case variant
    count (1 + L at k=1, + C(L,2) at k=2, L = max_len). Catalyst's own
    estimate for a Generate (explode) node passes the CHILD's size
    through essentially unchanged — wildly LOW — which statically plans
    a BroadcastHashJoin over frames that explode to tens of millions of
    rows and OOMs the driver building the hashed relation (observed
    r14: 100k keys × 56 variants killed an 8 GB driver). ``None`` = no
    usable estimate (treat as big)."""
    size = analyzed_size_bytes(d)
    if size is None:
        return None
    factor = 1 + max_len
    if max_dist >= 2:
        factor += max_len * (max_len - 1) // 2
    return size * factor


#: a side may broadcast only when its worst-case EXPLODED size bound
#: stays under this (comfortably inside the 10 MB default
#: autoBroadcastJoinThreshold and trivial against driver heap)
_FUZZY_BROADCAST_BOUND = 8 << 20


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    *,
    left_id: str = "id",
    right_id: str = "id",
    max_dist: int = 1,
    max_len: int = 128,
    block_on: list[str] | str | None = None,
) -> DataFrame:
    """Edit-distance join: every (left, right) row pair whose ``key_col``
    strings are within Levenshtein distance ``max_dist`` — the entity /
    benchmark-title normalization step of a curation pipeline, without a
    cross join.

    Returns ``(left_id, right_id, left_key, right_key, edit_distance)``
    (fixed output names — the inputs' id columns may collide).

    Scale shape (SymSpell blocking, Garbe's deletion-neighborhood
    adaptation of Bocek et al. 2007): ``ed(a, b) <= k`` implies the
    k-deletion neighborhoods of ``a`` and ``b`` intersect (align an
    optimal edit script; delete from each side every character an edit
    touches — each of the <= k ops touches at most one character per
    side — and both sides reach the same subsequence). So an equi-join
    on exploded deletion variants has PERFECT recall as a candidate
    generator, and the single ``F.levenshtein`` verify (JVM-side,
    whole-stage codegen) removes false candidates — exact semantics,
    never a cross join. Exact-duplicate keys are collapsed per side
    BEFORE the variant explode (the minhash pre-collapse pattern:
    d copies of one hot string cost d join-back rows, not d·variants
    shuffle rows), and the candidate join runs at DISTINCT-string grain.

    Join strategy is PINNED (r14): Catalyst's size estimate for an
    explode is ~the pre-explode bytes, so left to itself the planner
    statically broadcasts variant frames that are really tens of
    millions of rows — a driver OOM. A side may broadcast only when its
    worst-case exploded bound (analyzed size × (1 + L [+ C(L,2)]),
    L = max_len) is provably small; otherwise the candidate join and
    both join-backs are hinted to shuffle (merge) joins, and any
    broadcast downgrade is AQE's, made from accurate runtime sizes.

    Cost: a string of length L explodes to 1 + L variants at
    ``max_dist=1`` and O(L²/2) at 2 (the supported range) — designed
    for SHORT keys (names, titles, hosts); keys longer than ``max_len``
    or NULL are excluded from matching entirely (raise ``max_len`` for
    long-key corpora consciously). Shared-variant hot buckets (many
    DISTINCT near-identical keys) amplify the candidate join the same
    way any blocking join amplifies; normalize keys first if the corpus
    is adversarial — or pass ``block_on``: equality column(s) required
    to match EXACTLY (record-linkage blocking, e.g. join names within
    edit distance 1 only inside the same registrable domain). The
    variant equi-join then keys on ``(variant, *block_on)``, so a hot
    variant shared across blocks never meets itself; blocked rows with
    NULL block values never match (SQL equality semantics). The block
    columns must exist under the same names on both sides and are
    returned in the output."""
    if max_dist not in (1, 2):
        raise ValueError("max_dist must be 1 or 2 (deletion-neighborhood "
                         "blocking degrades combinatorially beyond)")
    blk = ([block_on] if isinstance(block_on, str)
           else list(block_on or ()))
    ls = left.select(F.col(left_id).alias("left_id"),
                     F.col(key_col).alias("left_key"), *blk)
    rs = right.select(F.col(right_id).alias("right_id"),
                      F.col(key_col).alias("right_key"), *blk)
    ld = (ls.select("left_key", *blk).where(
        F.col("left_key").isNotNull()
        & (F.length("left_key") <= max_len)).distinct())
    rd = (rs.select("right_key", *blk).where(
        F.col("right_key").isNotNull()
        & (F.length("right_key") <= max_len)).distinct())
    lv = ld.select(
        "left_key", *blk,
        F.explode(_deletion_variants(F.col("left_key"), max_dist))
        .alias("__v"))
    rv = rd.select(
        "right_key", *blk,
        F.explode(_deletion_variants(F.col("right_key"), max_dist))
        .alias("__v"))
    # Join-strategy pin (r14): Catalyst sizes the exploded variant
    # frames at roughly their PRE-explode bytes, so the planner happily
    # broadcasts a side that is really tens of millions of rows — a
    # driver OOM, not a slowdown. Broadcast is allowed only when a
    # side's WORST-CASE exploded bound (_exploded_size_bound) is
    # provably tiny (the small-entity-list-vs-corpus case, where it is
    # exactly right); otherwise every join in the operator is pinned to
    # a shuffle (merge) join — AQE may still convert to broadcast at
    # runtime, but from ACCURATE shuffle sizes, which is the point. The
    # verified/join-back frames inherit the same garbage estimates
    # (their size is match-count-driven), so they get the same pin.
    bl = _exploded_size_bound(ld, max_len, max_dist)
    br = _exploded_size_bound(rd, max_len, max_dist)
    small_l = bl is not None and bl < _FUZZY_BROADCAST_BOUND
    small_r = br is not None and br < _FUZZY_BROADCAST_BOUND
    if small_l:
        lv = F.broadcast(lv)
    elif small_r:
        rv = F.broadcast(rv)
    else:
        lv = lv.hint("merge")
    verified = (
        lv.join(rv, ["__v", *blk])
        .select("left_key", "right_key", *blk).distinct()
        .withColumn("edit_distance",
                    F.levenshtein("left_key", "right_key"))
        .where(F.col("edit_distance") <= max_dist))
    rs_j = rs
    if not (small_l or small_r):
        verified = verified.hint("merge")
        rs_j = rs.hint("merge")
    return (ls.join(verified, ["left_key", *blk])
            .join(rs_j, ["right_key", *blk])
            .select("left_id", "right_id", *blk,
                    "left_key", "right_key",
                    F.col("edit_distance").cast("long")
                    .alias("edit_distance")))
