"""Deduplication operators for large-scale corpus pipelines.

Beyond the reference's surface (pandas-plus has no dedup; closest is
``value_counts``/``size``) — these are the training-data-pipeline operators
the engine adds, designed shuffle-first:

- exact_dedup: hash-groupBy on content. One shuffle on the content key;
  at 100 TB group on a 128-bit content hash, never the raw text, so shuffle
  rows are ~50 B not ~document-sized.
- MinHash + LSH: shingle → k minhashes → band → bucket-join. The candidate
  join is a self-equi-join on (band, band_hash) — Spark shuffles both sides
  by the bucket key; no all-pairs blowup. Banding parameters (k, bands) trade
  recall vs candidate count in the standard S-curve.
- SimHash: 64-bit signature; near-dup candidates share a signature in at
  least one of four 16-bit quadrants (Hamming ≤ 3 heuristic).
- n-gram Jaccard: the exact verifier run on candidate pairs (and usable as a
  brute-force all-pairs check at test scale).

All signature math is pure Column expressions over ``xxhash64`` (JVM,
codegen) — no Python in the hot path.
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import simple_tokens, word_ngrams, _token_poly_hash
from ..util import (analyzed_size_bytes, attach_cached, ensure_parallelism,
                    lineage_cut)

# Production hashing is xxhash64 (JVM, codegen, 64-bit). ``hash_fn="poly"``
# switches every hash in the pipeline to the ANSI-reproducible polynomial
# rolling hash (functions/text.py poly_hash) so the whole operator can be
# verified value-for-value against an independent SQL engine — the oracle
# gate runs the poly variant, production keeps xxhash64.
_HASH_FNS = ("xxhash64", "poly")


def _base_hash(hash_fn: str):
    if hash_fn == "xxhash64":
        return F.xxhash64
    if hash_fn == "poly":
        return _token_poly_hash
    raise ValueError(f"hash_fn must be one of {_HASH_FNS}, got {hash_fn!r}")


# --------------------------------------------------------------------- #
# exact
# --------------------------------------------------------------------- #

def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """One row per distinct content: the minimum id is kept, plus the copy
    count. Groups on sha2-256 of the content so the shuffle carries a fixed
    32-byte key instead of the document body."""
    return (
        df.select(F.sha2(F.col(content_col).cast("string"), 256).alias("content_hash"),
                  F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def duplicated_flags(df: DataFrame, subset, order_by,
                     keep: str = "first") -> DataFrame:
    """Per-row duplicate flag — pandas ``DataFrame.duplicated(subset,
    keep)`` with the row order explicit: ``keep='first'`` marks every
    occurrence after the first (in ``order_by`` order) True,
    ``keep='last'`` mirrors it, ``keep=False`` marks ALL members of any
    duplicated key group. Adds a boolean ``duplicated`` column.

    Scale shape: one ranking window partitioned by the subset hash
    (sha2 of the concatenated subset for wide/text subsets would be the
    variant — here the subset columns themselves key the exchange, one
    shuffle); keep=False uses a per-key count instead of a rank — same
    single exchange."""
    subset = [subset] if isinstance(subset, str) else list(subset)
    order = [order_by] if isinstance(order_by, str) else list(order_by)
    if keep is False or keep == "false":
        n = F.count(F.lit(1)).over(Window.partitionBy(*subset))
        return df.withColumn("duplicated", n > 1)
    if keep not in ("first", "last"):
        raise ValueError("keep must be 'first', 'last' or False")
    cols = [F.col(o).desc() if keep == "last" else F.col(o) for o in order]
    rn = F.row_number().over(Window.partitionBy(*subset).orderBy(*cols))
    return df.withColumn("duplicated", rn > 1)


# --------------------------------------------------------------------- #
# MinHash + LSH
# --------------------------------------------------------------------- #

def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 32,
    shingle_size: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sig: array<long>) — one-hash minhash: one base hash per shingle,
    then k affine families a_i·h + b_i (mod 2^31−1) over the base hash. All
    JVM expression work, no Python."""
    h = _base_hash(hash_fn)
    df = ensure_parallelism(df)
    toks = simple_tokens(F.col(text_col))
    shingles = F.array_distinct(word_ngrams(toks, shingle_size))

    # Hash every shingle string ONCE, then derive the k families as affine
    # transforms a_i·h + b_i over the base hash — the classic one-hash
    # minhash construction.
    staged = df.select(
        F.col(id_col).alias("id"),
        F.transform(shingles, lambda s: h(s)).alias("__h"),
    )

    # affine families over the prime field 2^31−1: values stay well inside
    # long range (Spark 4 runs ANSI mode — silent overflow would throw).
    P = 2_147_483_647

    def family(i: int, hcol):
        a, b = 2 * i + 1, 0x9E3779B9 * (i + 1) % P
        return (F.pmod(hcol, F.lit(P)) * F.lit(a) + F.lit(b)) % F.lit(P)

    # Evaluate the k per-family minima in a hash AGGREGATE over exploded
    # shingle hashes rather than k array_min(transform(...)) passes:
    # higher-order functions are interpreted per element, so k transforms
    # cost k interpreted sweeps per document, while min() buffers run in
    # whole-stage codegen. The explode never shuffles raw shingles — the
    # map-side partial aggregate collapses to one row per (partition, id)
    # before the exchange, so the shuffle carries one k-long signature per
    # document either way. Values are identical to the per-array
    # construction (same base hashes, same affine map, same min).
    # explode_outer: a shingle-less document (empty/NULL text) keeps its
    # row and yields the all-NULL signature the array construction produced
    exploded = staged.select("id", F.explode_outer("__h").alias("__e"))
    sig_mins = exploded.groupBy("id").agg(*[
        F.min(family(i, F.col("__e"))).alias(f"__m{i}")
        for i in range(num_hashes)
    ])
    return sig_mins.select(
        "id", F.array(*[F.col(f"__m{i}") for i in range(num_hashes)]).alias("sig"))


def _band_entries(sigs: DataFrame, bands: int, num_hashes: int,
                  hash_fn: str) -> DataFrame:
    """(id, band, bhash) LSH bucket entries: fold each signature band into
    one bucket hash and explode — the shared primitive under self-join
    (minhash_lsh_candidates) and cross-corpus (incremental_dedup) LSH."""
    rows_per_band = num_hashes // bands

    def band_hash(b: int):
        vals = [F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
        if hash_fn == "xxhash64":
            return F.xxhash64(*vals)
        # ANSI twin: polynomial fold of the band's signature values
        acc = F.lit(0).cast("long")
        for v in vals:
            acc = (acc * F.lit(31) + v) % F.lit(1_000_000_007)
        return acc

    return sigs.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(F.lit(b).alias("band"), band_hash(b).alias("bhash"))
                for b in range(bands)
            ])
        ).alias("bucket"),
    ).select("id", "bucket.band", "bucket.bhash")


def _cap_bucket_entries(entries: DataFrame, key_cols: list[str],
                        cap: int,
                        oversized: DataFrame | None = None) -> DataFrame:
    """Bound every LSH bucket to ≤ ~cap entries before a bucket self-join.

    Exact-dup collapse kills the COMMON candidate blowup (d copies → d²/2
    pairs), but a boilerplate-heavy *near*-dup corpus can still put an
    unbounded member count into one (band, hash) bucket, making that single
    bucket's self-join quadratic. The guard: oversized buckets are
    deterministically down-sampled to ~cap entries by keeping entry ``e`` iff
    ``xxhash64(id, key) mod bucket_size < cap`` — reproducible across runs,
    a no-op filter when no bucket exceeds the cap.

    This is a LAZY plan transform, not an eager check: only the OVERSIZED
    buckets are aggregated (a frame bounded by n_entries/cap rows by
    construction — each needs > cap entries) and broadcast-left-joined back
    onto the entry frame, so the filter is map-side over the persisted
    entries, and a healthy corpus pays one small aggregate plus a no-op
    broadcast. (The first-cut guard counted buckets in a separate blocking
    job, which serialized a full signature materialization ahead of the
    join — 2× pipeline wall-clock at bench scale for a check that is almost
    always a no-op; a window-count variant added a per-partition sort.)
    Oversized-bucket monitoring is the opt-in :func:`lsh_bucket_stats`.

    Recall note: a true near-dup pair inside a sampled bucket survives with
    probability ~(cap/size)², per bucket; the OR across bands helps only
    when the pair's buckets differ per band, which a single mega-cluster
    defeats (identical members co-bucket everywhere). Entry-filtering is
    therefore NOT the whole capped path: :func:`capped_pair_candidates`
    adds linear-cost hub edges so dropped entries stay CONNECTED to their
    cluster — the property dedup keep-lists actually need.

    ``oversized`` lets a caller that ALSO needs the oversized-bucket frame
    (``capped_pair_candidates``: cap filter + hub edges) pass one shared
    materialization instead of planning the aggregate twice."""
    if oversized is None:
        oversized = (
            entries.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__bsz"))
            .where(F.col("__bsz") > cap)
        )
    keep = F.col("__bsz").isNull() | (
        F.pmod(F.xxhash64("id", *key_cols), F.col("__bsz")) < cap)
    return (entries.join(F.broadcast(oversized), list(key_cols), "left")
            .where(keep).drop("__bsz"))


def capped_pair_candidates(entries: DataFrame,
                           key_cols: list[str], cap: int) -> DataFrame:
    """Candidate pairs ``(id_a < id_b)`` from a bucket self-join with the
    oversized-bucket cap AND hub edges — the shared pair-generation stage
    of the capped minhash and hyperplane LSH paths.

    The cap alone (:func:`_cap_bucket_entries`) bounds the quadratic
    clique but breaks CONNECTIVITY: an entry hash-sampled out of a hot
    bucket in every table gets no candidate edge at all (at bucket 1000 /
    cap 16 / 12 tables that is (1−16/1000)¹² ≈ 82% of the cluster —
    measured r8, BASELINE.md), so a dedup keep-list wrongly keeps most of
    a mega-cluster. Pairwise recall is the wrong target there — a
    near-dup CLUSTER only needs to stay connected for the component step
    to collapse it. So every DROPPED entry of an oversized bucket emits
    one extra candidate edge to its bucket's HUB (the minimum-id kept
    entry — deterministic): linear in bucket size, restores cluster
    connectivity through the hub, and the verify stage still decides
    whether each hub edge is a true near-dup. Healthy buckets are
    untouched (same lazy broadcast split as the cap — a no-op plan when
    nothing exceeds ``cap``).

    The oversized-bucket aggregate feeds BOTH halves (the cap filter and
    the hub-edge machinery). It is computed ONCE as a lineage cut (r16,
    guide §2.4/§5): the frame is bounded by n_entries/cap rows by
    construction, and planning it twice re-embedded the aggregate subtree
    in four places (cap join, tagged join, hubs, hub_edges) — AQE's
    ReusedExchange already deduped the RUNTIME work (r15 audit), so the
    fold is a planning-size win, not a wall-clock claim. The handle rides
    the result via attach_cached; callers release it with release_cached."""
    from ..util import attach_cached, lineage_cut

    oversized = lineage_cut(
        entries.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__bsz"))
        .where(F.col("__bsz") > cap)
    )
    capped = _cap_bucket_entries(entries, key_cols, cap, oversized=oversized)
    a, b = capped.alias("a"), capped.alias("b")
    pairs = (
        a.join(b, on=list(key_cols))
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    tagged = entries.join(F.broadcast(oversized), list(key_cols), "inner")
    kept = F.pmod(F.xxhash64("id", *key_cols), F.col("__bsz")) < cap
    # hub = min KEPT id, falling back to min id over ALL entries when the
    # hash filter kept zero entries of the bucket (possible for a small
    # cap with an unlucky hash) — without the fallback the inner join
    # below leaves every member of exactly the mega-bucket the hub edges
    # exist for isolated; the star around the fallback hub keeps the
    # bucket connected even though the hub itself generated no pairs
    hubs = (tagged.groupBy(*key_cols)
            .agg(F.min(F.when(kept, F.col("id"))).alias("__khub"),
                 F.min("id").alias("__ahub"))
            .select(*key_cols, F.coalesce("__khub", "__ahub").alias("__hub")))
    hub_edges = (
        tagged.where(~kept)
        .join(hubs, list(key_cols))
        .where(F.col("id") != F.col("__hub"))
        .select(F.least("id", "__hub").alias("id_a"),
                F.greatest("id", "__hub").alias("id_b"))
    )
    return attach_cached(pairs.unionByName(hub_edges), oversized)


def lsh_bucket_stats(entries: DataFrame, cap: int,
                     key_cols: list[str] = ("band", "bhash")) -> dict:
    """Eager bucket-size diagnostic for an LSH entry frame: returns
    ``{"n_buckets", "n_over_cap", "max_bucket"}`` and raises a
    RuntimeWarning when any bucket exceeds ``cap`` (i.e. when the lazy
    guard in the candidate join is down-sampling and pair recall for those
    buckets is reduced). Pipelines that must ALERT on pathological corpora
    call this on the persisted entry frame; the hot path never pays for it.
    """
    row = (entries.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__bsz"))
           .agg(F.count(F.lit(1)).alias("n_buckets"),
                F.sum((F.col("__bsz") > cap).cast("long")).alias("n_over_cap"),
                F.max("__bsz").alias("max_bucket"))
           .first())
    stats = {k: (row[k] or 0) for k in ("n_buckets", "n_over_cap", "max_bucket")}
    if stats["n_over_cap"]:
        import warnings
        warnings.warn(
            f"{stats['n_over_cap']} LSH bucket(s) exceed max_bucket_size="
            f"{cap} (largest: {stats['max_bucket']}); the candidate join "
            "hash-down-samples each to ~cap entries, reducing candidate "
            "recall for members of those buckets",
            RuntimeWarning, stacklevel=2)
    return stats


def minhash_lsh_candidates(
    sigs: DataFrame,
    bands: int = 8,
    num_hashes: int | None = None,
    hash_fn: str = "xxhash64",
    max_bucket_size: int | None = 1024,
) -> DataFrame:
    """Candidate pairs (id_a < id_b) sharing at least one LSH band.

    Explode each signature into ``bands`` (band_idx, band_hash) rows, then
    self-join on the bucket key. The join is a plain shuffled equi-join —
    AQE handles skewed buckets, and ``max_bucket_size`` bounds the
    pathological hot bucket (near-identical boilerplate that survives
    exact-dup collapse): oversized buckets are deterministically sampled
    down to ~cap entries by a lazy window filter riding the join's own
    exchange (see :func:`_cap_bucket_entries`; monitor with
    :func:`lsh_bucket_stats`). Pass ``max_bucket_size=None`` to disable.

    Pass ``num_hashes`` to avoid an extra job just to read the signature
    width. The bucket-entry frame is materialized ONCE with a lineage cut
    (r16, ``util.lineage_cut``): it is tiny (id + band + 8-byte hash per
    row) but referenced up to 8× by the capped self-join machinery, and a
    plain persist() re-embedded the whole signature subtree in the plan at
    every reference — the minhash pipeline's plan (and its Catalyst
    planning time) grew multiplicatively."""
    if hash_fn not in _HASH_FNS:
        raise ValueError(f"hash_fn must be one of {_HASH_FNS}, got {hash_fn!r}")
    n = num_hashes if num_hashes is not None else sigs.select(F.size("sig")).first()[0]
    bucket_entries = lineage_cut(_band_entries(sigs, bands, n, hash_fn))
    if max_bucket_size is not None:
        # cap + hub edges: quadratic cliques bounded, cluster
        # connectivity preserved (see capped_pair_candidates)
        cand_raw = capped_pair_candidates(
            bucket_entries, ["band", "bhash"], max_bucket_size)
        out = attach_cached(cand_raw.distinct(),
                            *getattr(cand_raw, "_pps_cached", ()))
    else:
        a = bucket_entries.alias("a")
        b = bucket_entries.alias("b")
        out = (
            a.join(b, on=["band", "bhash"])
            .where(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
    # caller frees the bucket cache via util.release_cached once materialized
    return attach_cached(out, bucket_entries)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    shingle_size: int = 3,
    candidates: DataFrame | None = None,
    metric: str = "jaccard",
) -> DataFrame:
    """Exact n-gram-set similarity between document pairs.

    ``metric="jaccard"`` (default): |A∩B| / |A∪B|, column ``jaccard``.
    ``metric="containment"``: |A∩B| / min(|A|, |B|), column
    ``containment`` — the asymmetric score that catches SUB-document
    duplication (a doc quoting or embedding another scores ~1.0 here but
    low Jaccard when the sizes differ; Broder's containment measure).

    With ``candidates`` (id_a, id_b) this verifies only those pairs — the
    scale path after LSH. Without, it brute-forces all pairs (test scale
    only; the join is a cross product)."""
    df = ensure_parallelism(df)
    toks = simple_tokens(F.col(text_col))
    gram_expr = F.array_distinct(word_ngrams(toks, shingle_size)).alias("grams")
    if candidates is not None:
        # Shingle ONLY candidate-involved docs: the verify stage needs gram
        # sets for ids appearing in some pair, and candidates ≪ corpus after
        # LSH (r4 — the unpruned persist materialized gram sets for every
        # document). The semi-join must apply to the RAW (id, text) rows,
        # below the gram projection: Catalyst has no pull-expensive-
        # projections-above-joins rule, so a semi-join placed above the
        # projection still shingles the whole corpus and filters after
        # (r7 plan audit — the Project sat under the LeftSemi). Ordered
        # this way, shingling cost scales with the candidate set.
        #
        # The candidate frame itself is read THREE times downstream (the
        # id-prune union here + both pair-join sides); without its own
        # materialization each read re-runs the LSH self-join + distinct.
        # The frame is pair-count-sized (two longs per row), so pinning it
        # is cheap — and it is cut, not persisted (r16): each of the three
        # references otherwise re-embeds the whole LSH subtree in the plan.
        inner_cached = list(getattr(candidates, "_pps_cached", ()))
        candidates = lineage_cut(candidates)
        cand_ids = (candidates.select(F.col("id_a").alias("id"))
                    .unionByName(candidates.select(F.col("id_b").alias("id")))
                    .distinct())
        # both join sides read the gram sets → compute the shingling once
        # (cut for the same reason: two references)
        grams = lineage_cut(
            df.select(F.col(id_col).alias("id"), F.col(text_col))
            .join(cand_ids, "id", "left_semi")
            .select("id", gram_expr))
        pairs = (
            candidates
            .join(grams.withColumnRenamed("id", "id_a").withColumnRenamed("grams", "grams_a"), "id_a")
            .join(grams.withColumnRenamed("id", "id_b").withColumnRenamed("grams", "grams_b"), "id_b")
        )
    else:
        grams = df.select(F.col(id_col).alias("id"), gram_expr)
        ga = grams.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a"))
        gb = grams.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b"))
        pairs = ga.join(gb, F.col("id_a") < F.col("id_b"))
    if metric not in ("jaccard", "containment"):
        raise ValueError("metric must be 'jaccard' or 'containment'")
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    if metric == "containment":
        den = F.least(F.size("grams_a"), F.size("grams_b"))
        out_col = "containment"
    else:
        den = F.size("grams_a") + F.size("grams_b") - inter
        out_col = "jaccard"
    score = F.when(den > 0, inter.cast("double") / den).otherwise(F.lit(0.0))
    out = (
        pairs.select("id_a", "id_b", score.alias(out_col))
        .where(F.col(out_col) >= threshold)
    )
    if candidates is not None:
        out = attach_cached(out, grams, candidates, *inner_cached)
    return out


def minhash_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_size: int = 3,
    pre_dedup_exact: bool = True,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Full near-dup pipeline: minhash → LSH candidates → exact Jaccard
    verify. Returns (id_a, id_b, jaccard) for confirmed near-duplicates.

    pre_dedup_exact (default): collapse exact-duplicate content to one
    representative (minimum id) before the LSH stage. Exact duplicates make
    LSH candidate counts quadratic in the duplication depth — a corpus with
    d copies per document costs d²/2 candidate verifications for zero
    information. Near-dup pairs are reported between representatives; pair
    with ``exact_dedup`` for the full duplicate graph."""
    collapsed = None
    if pre_dedup_exact:
        # The collapsed representative frame feeds BOTH the signature stage
        # and the verify stage's shingling; unpersisted, each consumer
        # re-runs the full-text groupBy shuffle. Persist it (disk-spillable)
        # and hand the handle to the caller via attach_cached.
        df = df.groupBy(text_col).agg(F.min(id_col).alias(id_col)).persist()
        collapsed = df
    sigs = minhash_signatures(df, text_col, id_col, num_hashes, shingle_size,
                              hash_fn=hash_fn)
    cands = minhash_lsh_candidates(sigs, bands, num_hashes=num_hashes,
                                   hash_fn=hash_fn)
    out = ngram_jaccard_pairs(df, text_col, id_col, threshold, shingle_size,
                              candidates=cands)
    if collapsed is not None:
        out = attach_cached(out, collapsed)
    return out


class RefIndex:
    """Stored dedup index of a reference corpus: ``content_hashes``
    (__h, ref_id) for the exact stage and ``band_entries`` (id, band,
    bhash) for the LSH stage. Build once with :func:`build_ref_index`,
    write both frames to parquet, read them back for every incremental
    batch — the reference corpus is then never re-processed.

    Optionally carries ``bloom_words`` (the sparse Bloom bitmap over the
    content hashes, ``functions.bloom.bloom_build``) with its
    ``bloom_bits``/``bloom_k`` parameters: when present,
    :func:`incremental_dedup` probes new batches against the broadcast
    bitmap MAP-SIDE before the exact join, so non-duplicates (the bulk
    of any fresh crawl) never shuffle against the reference hash set.
    The bitmap frame round-trips through parquet like the other two and
    absorbs new keys with one more ``bit_or`` pass."""

    def __init__(self, content_hashes: DataFrame, band_entries: DataFrame,
                 bloom_words: DataFrame | None = None,
                 bloom_bits: int = 1 << 20, bloom_k: int = 7):
        self.content_hashes = content_hashes
        self.band_entries = band_entries
        self.bloom_words = bloom_words
        self.bloom_bits = bloom_bits
        self.bloom_k = bloom_k
        self._dense = None

    def dense_bitmap(self):
        """Driver-resident dense numpy bitmap, collected from
        ``bloom_words`` once per index OBJECT and memoized. A standing
        ingestion pipeline probes every batch against the same bitmap;
        the sparse→dense collect (an eager Spark job) is a per-index
        cost, not a per-batch one — hold the RefIndex across batches to
        amortize it. Size = ``bloom_bits``/8 bytes on the driver."""
        if self._dense is None:
            from ..functions.bloom import bloom_to_numpy
            self._dense = bloom_to_numpy(self.bloom_words, self.bloom_bits)
        return self._dense


def build_ref_index(
    ref_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_size: int = 3,
    hash_fn: str = "xxhash64",
    bloom_bits: int | None = None,
    bloom_k: int = 7,
) -> RefIndex:
    """One-time indexing pass over the reference corpus for
    :func:`incremental_dedup` (use the SAME parameters for both). Each
    frame is corpus-linear and tiny per row (32-byte hash / 3 longs).
    Pass ``bloom_bits`` (~10 bits per reference doc) to also build the
    Bloom bitmap over the content hashes — new batches then probe it
    map-side before the exact join (see :class:`RefIndex`)."""
    content = (
        ref_df.select(F.sha2(F.col(text_col).cast("string"), 256).alias("__h"),
                      F.col(id_col).alias("ref_id"))
        .groupBy("__h").agg(F.min("ref_id").alias("ref_id"))
    )
    sigs = minhash_signatures(ref_df, text_col, id_col, num_hashes,
                              shingle_size, hash_fn=hash_fn)
    bloom_words = None
    if bloom_bits is not None:
        from ..functions.bloom import bloom_build
        bloom_words = bloom_build(content, "__h", bloom_bits, bloom_k)
    return RefIndex(content, _band_entries(sigs, bands, num_hashes, hash_fn),
                    bloom_words=bloom_words,
                    bloom_bits=bloom_bits or (1 << 20), bloom_k=bloom_k)


def incremental_dedup(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_size: int = 3,
    hash_fn: str = "xxhash64",
    ref_index: "RefIndex | None" = None,
    broadcast_batch: bool | None = None,
) -> DataFrame:
    """Cross-corpus (incremental) dedup: flag documents of a NEW batch that
    duplicate an EXISTING reference corpus — the shape every continuously
    ingesting training pipeline runs (new crawl vs what's already in the
    dataset). Ids must be globally unique across both frames.

    Returns one row per matched new document:
    ``(id_col, match_kind 'exact'|'near', ref_id, jaccard)`` — ``ref_id``
    is the closest reference match (max Jaccard, min id tiebreak); exact
    matches report jaccard 1.0 against the minimum matching reference id.
    Unmatched new documents are absent (anti-join the result to keep them).

    Scale shape: exact matches join on sha2-256 (32-byte shuffle keys, no
    bodies). The near stage band-joins NEW bucket entries against REF bucket
    entries — never ref × ref, so cost scales with the BATCH, not the
    corpus; in production the reference side's signatures/buckets are
    precomputed once and stored — pass them as ``ref_index``
    (:func:`build_ref_index`, typically read back from parquet) and each
    increment's work is proportional to the new data only: the reference
    corpus is never re-hashed, re-shingled, or re-banded.

    Exact-matched docs produce no near rows: they are excluded from the
    CANDIDATE pairs (a broadcast anti-join against the exact-match ids)
    rather than anti-joined out of the batch before signing — the old
    batch-wide anti-join re-scanned and re-shuffled the whole batch to
    save minhashing a few duplicate docs, two exchanges spent to avoid
    map-side work (r8 stage-count audit; the results are identical).

    ``broadcast_batch`` — broadcast-hint the BATCH-derived side of the two
    batch-vs-corpus joins (Bloom-surviving content hashes into the exact
    join; the batch's band entries into the LSH candidate join). The
    corpus-sized index side then never shuffles: it streams map-side from
    its parquet/scan straight into a broadcast hash join, which at a
    100 TB reference corpus is the difference between an increment costing
    O(batch) and O(corpus) shuffle I/O per batch — turn it ON when the
    stored index is orders of magnitude larger than the increment.
    Default False: at validation scale the forced hint MEASURED 2× SLOWER
    (8.6 vs 3.7 s, sf1 local[32], r8) — the blocking driver
    collect-and-rebroadcast of the probe/signature output sits on the
    critical path, while the index side's shuffle is cheap when index and
    batch are comparable — and AQE's dynamic join-strategy switching
    already converts to broadcast from runtime stats when that wins.
    """
    if broadcast_batch is None:
        broadcast_batch = False
    hint = F.broadcast if broadcast_batch else (lambda df: df)
    extra_cached: list[DataFrame] = []
    new_hashed = new_df.select(
        F.col(id_col),
        F.sha2(F.col(text_col).cast("string"), 256).alias("__h"))
    if ref_index is not None:
        ref_hashed = ref_index.content_hashes
        e_ref = ref_index.band_entries
        if ref_index.bloom_words is not None:
            # Map-side Bloom pre-filter: non-duplicates (no false
            # negatives possible) never reach the exact join;
            # false positives just take the join and fall out of it.
            # NOTE: materializing the dense bitmap is an EAGER Spark job
            # (bloom_to_numpy collects the sparse frame) inside otherwise
            # lazy plan construction — the price of a driver-held bitmap;
            # RefIndex.dense_bitmap memoizes it, so HOLD the RefIndex
            # object across batches and the collect runs once per index,
            # not per call.
            from ..functions.bloom import bloom_might_contain
            dense = ref_index.dense_bitmap()
            new_hashed = (
                bloom_might_contain(new_hashed, "__h", dense,
                                    ref_index.bloom_bits,
                                    ref_index.bloom_k)
                .filter(F.col("might_contain")).drop("might_contain")
            )
    else:
        idx = build_ref_index(ref_df, text_col, id_col,
                              num_hashes=num_hashes, bands=bands,
                              shingle_size=shingle_size, hash_fn=hash_fn)
        ref_hashed, e_ref = idx.content_hashes, idx.band_entries
    # The exact frame is read twice (output union + candidate exclusion)
    # — materialized once per action tree (handle released via
    # release_cached, like every other _pps_cached intermediate).
    exact = hint(new_hashed).join(ref_hashed, "__h").select(
        F.col(id_col), F.lit("exact").alias("match_kind"),
        F.col("ref_id"), F.lit(1.0).alias("jaccard"))

    sigs_new = minhash_signatures(new_df, text_col, id_col, num_hashes,
                                  shingle_size, hash_fn=hash_fn)
    e_new = _band_entries(sigs_new, bands, num_hashes, hash_fn)
    pair_raw = (
        hint(e_new).alias("a").join(e_ref.alias("b"), on=["band", "bhash"])
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # The exact content join and the LSH band join are INDEPENDENT until
    # the candidate anti-join below, yet r15's stage timeline ran them
    # strictly sequentially — pure micro-job latency on small increments.
    # Materialize both lineage cuts from two driver threads so the second
    # pipeline's tasks back-fill the first's stragglers (guide §2.6); job
    # descriptions are thread-local so the UI stays labeled per pipeline.
    from concurrent.futures import ThreadPoolExecutor

    from ..util import lineage_cut
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_exact = pool.submit(lineage_cut, exact, True)
        f_pairs = pool.submit(lineage_cut, pair_raw, True)
        exact, pair_raw = f_exact.result(), f_pairs.result()
    extra_cached += [exact, pair_raw]
    cands = (
        pair_raw
        # exact-matched docs report their exact row only (see docstring):
        # exclude them pair-level, where the frame is candidate-sized
        .join(F.broadcast(exact.select(F.col(id_col).alias("id_a"))),
              "id_a", "left_anti")
    )
    verified = ngram_jaccard_pairs(
        new_df.select(id_col, text_col).unionByName(
            ref_df.select(id_col, text_col)),
        text_col, id_col, threshold, shingle_size, candidates=cands)
    # best match = max Jaccard, min ref id tiebreak — a min_by hash
    # aggregate (map-side partial, no sort) instead of a rank window,
    # whose per-group sort bought nothing for a 1-row-per-group pick.
    # min_by on (-jaccard, id_b) negates the DOUBLE, not the id: unary
    # minus on a string id fails under ANSI (and silently NULLs the
    # tiebreak otherwise), while this form keeps max-jaccard/min-id
    # semantics for any orderable id type
    near = (
        verified.groupBy("id_a")
        .agg(F.min_by("id_b", F.struct(-F.col("jaccard"), F.col("id_b")))
             .alias("ref_id"),
             F.max("jaccard").alias("jaccard"))
        .select(F.col("id_a").alias(id_col), F.lit("near").alias("match_kind"),
                F.col("ref_id"), F.col("jaccard"))
    )
    out = exact.unionByName(near)
    return attach_cached(out, *extra_cached,
                         *getattr(verified, "_pps_cached", ()))


def exact_match_bloom(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    n_bits: int = 1 << 20,
    k: int = 7,
    bloom_words: DataFrame | None = None,
) -> DataFrame:
    """Exact cross-corpus matches with a Bloom pre-filter: ``(id_col,
    ref_id)`` for every NEW document whose text already exists in the
    reference corpus — identical output to the exact stage of
    :func:`incremental_dedup`, but the new batch is first probed MAP-SIDE
    against an ``n_bits`` Bloom bitmap of the reference content hashes,
    so only the (tiny) might-match fraction reaches the verification
    join.

    Why this matters at 100 TB: the plain exact stage shuffles the whole
    new batch's hashes against the reference hash set every increment.
    The Bloom bitmap is ``n_bits/8`` bytes REGARDLESS of corpus size
    (~10 bits per reference doc for ~1% false positives), broadcasts
    once, and eliminates non-duplicates — typically ~99% of a fresh
    crawl — without any shuffle or reference-side I/O. Survivors still
    take the exact sha-256 join, so false positives only cost verify
    work and the result is exactly correct (Bloom has no false
    negatives). Pass ``bloom_words`` (the sparse frame from
    :func:`~pandas_plus_spark.functions.bloom.bloom_build` over the
    reference hashes, typically read back from parquet alongside the
    :class:`RefIndex`) to skip rebuilding the bitmap per batch; new
    reference keys append with one more ``bit_or`` pass since Bloom
    bitmaps OR losslessly.
    """
    from ..functions.bloom import bloom_build, bloom_might_contain, bloom_to_numpy

    new_hashed = new_df.select(
        F.col(id_col),
        F.sha2(F.col(text_col).cast("string"), 256).alias("__h"))
    ref_hashed = (
        ref_df.select(F.sha2(F.col(text_col).cast("string"), 256).alias("__h"),
                      F.col(id_col).alias("ref_id"))
        .groupBy("__h").agg(F.min("ref_id").alias("ref_id"))
    )
    if bloom_words is None:
        bloom_words = bloom_build(ref_hashed, "__h", n_bits, k)
    dense = bloom_to_numpy(bloom_words, n_bits)
    survivors = (
        bloom_might_contain(new_hashed, "__h", dense, n_bits, k)
        .filter(F.col("might_contain")).drop("might_contain")
    )
    return (
        survivors.join(ref_hashed, "__h")
        .select(F.col(id_col), F.col("ref_id"))
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 6,
    min_df: int = 2,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Maximal cross-document duplicated token spans: ``(id_col,
    span_start, span_end, n_grams)`` — every region of ≥ ``k``
    consecutive tokens that also appears in ≥ ``min_df`` distinct
    documents, merged into maximal spans per document (token-index
    half-open ``[span_start, span_end)``).

    The substring-granular dedup modality (exact-substring dedup of
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022, arXiv:2107.06499): document- and chunk-level dedup miss
    boilerplate/quotation spans embedded in otherwise-unique documents;
    this surfaces them for masking or excision. A suffix array finds
    arbitrary-length repeats; the distributed approximation here detects
    every repeat of length ≥ k via positional k-gram hashes — the same
    guarantee at span granularity k, with corpus-LINEAR cost and plain
    shuffle machinery:

    1. per-token poly/xxhash, then the hash of the k-gram starting at
       every position — one JVM array pass per doc, no explosion yet;
    2. explode to ``(id, pos, ghash)`` (corpus-token-sized, 24 B rows)
       and count DISTINCT docs per ghash — one shuffle on the gram hash;
       ``min_df`` filters to cross-document repeats;
    3. join positions back (same ghash partitioning) and merge positions
       with gap ≤ k into maximal spans — a per-document window, one
       shuffle on the doc id.

    At 100 TB every intermediate row is a couple of longs; the dominant
    cost is the one groupBy over corpus-token-count gram hashes, which
    AQE splits like any big aggregation. Hash collisions (~n²/2⁶⁴ for
    xxhash64) can merge unrelated grams — acceptable for span masking;
    verify survivors textually if excising. ``hash_fn="poly"`` switches
    to the ANSI-reproducible family for the oracle gate."""
    if k < 1:
        raise ValueError("k must be >= 1")
    from pyspark import StorageLevel

    # The gram pipeline (regex tokenize → per-token hash → k-gram fold) is
    # the expensive pass, and TWO consumers explode it (the distinct-doc
    # count and the position join-back). Pin the pre-explode array frame —
    # one long per token plus the id, the narrowest form — DISK_ONLY
    # (corpus-sized pins starve the execution pool if memory-resident at
    # sf100, r7 finding); each consumer then pays only a posexplode over
    # cached arrays. Handle released via release_cached like every other
    # _pps_cached intermediate.
    gram_arrays = _gram_hash_arrays(df, text_col, id_col, k, hash_fn) \
        .persist(StorageLevel.DISK_ONLY)
    grams = gram_arrays.select(
        F.col(id_col), F.posexplode("__gs").alias("pos", "__g"))
    repeated = (
        grams.groupBy("__g")
        .agg(F.countDistinct(id_col).alias("__df"))
        .filter(F.col("__df") >= min_df)
        .select("__g")
    )
    hits = grams.join(repeated, "__g").select(id_col, "pos")
    spans = _merge_gram_positions(hits, id_col, k)
    return attach_cached(spans, gram_arrays)


def _gram_hash_arrays(df: DataFrame, text_col: str, id_col: str,
                      k: int, hash_fn: str) -> DataFrame:
    """(id, __gs): per-document array of positional k-gram hashes — the
    shared front of :func:`duplicated_spans` and
    :func:`contaminated_spans` (regex tokenize → per-token hash →
    k-gram fold; one JVM array pass per doc, no explosion)."""
    base = _base_hash(hash_fn)
    tk = simple_tokens(F.col(text_col))

    def gram_hashes(th):
        n = F.size(th)
        if hash_fn == "poly":
            from ..functions.text import POLY_MOD, POLY_MUL
            fold = lambda i: F.aggregate(  # noqa: E731
                F.slice(th, i + 1, k), F.lit(0).cast("long"),
                lambda acc, x: (acc * F.lit(POLY_MUL) + x) % F.lit(POLY_MOD))
        else:
            fold = lambda i: F.xxhash64(F.slice(th, i + 1, k))  # noqa: E731
        return F.when(
            n >= k,
            F.transform(F.sequence(F.lit(0), n - k), fold)
        ).otherwise(F.array().cast("array<long>"))

    from ..functions.text import let

    return df.select(
        F.col(id_col),
        let(F.transform(tk, lambda t: base(t)), gram_hashes).alias("__gs"),
    )


def _merge_gram_positions(hits: DataFrame, id_col: str, k: int,
                          extra_keys: list[str] = ()) -> DataFrame:
    """Merge flagged gram positions (id, pos) into maximal spans —
    positions with gap <= k chain into one ``[span_start, span_end)``
    interval; one per-document window (the shared tail of
    :func:`duplicated_spans` / :func:`contaminated_spans`).
    ``extra_keys`` widens the merge grain (e.g. per benchmark suite in
    :func:`contamination_report`)."""
    keys = [id_col, *extra_keys]
    w = Window.partitionBy(*keys).orderBy("pos")
    brk = F.when(
        F.coalesce(F.col("pos") - F.lag("pos").over(w), F.lit(k + 1)) > k,
        F.lit(1)).otherwise(F.lit(0))
    return (
        hits.withColumn("__brk", brk)
        .withColumn("__lbl", F.sum("__brk").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(*keys, "__lbl")
        .agg(F.min("pos").cast("long").alias("span_start"),
             (F.max("pos") + k).cast("long").alias("span_end"),
             F.count(F.lit(1)).alias("n_grams"))
        .select(*keys, "span_start", "span_end", "n_grams")
    )


def build_ref_grams(
    ref: DataFrame,
    text_col: str,
    *,
    k: int = 6,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The benchmark side of :func:`contaminated_spans` as a standing
    artifact: the DISTINCT ``k``-gram hash set of ``ref`` (one column
    ``__g``). Build it once per eval suite — write to parquet or persist
    — and pass as ``ref_grams=`` so repeated decontamination (or every
    micro-batch of :func:`streaming.decontaminated_stream`) never
    re-hashes the benchmark. The frame is STAMPED with its contract
    (``k``/``hash_fn`` as ``__g`` column metadata — survives a parquet
    write/read round-trip): consumers raise on a mismatched stamp
    instead of silently mis-flagging; an unstamped gram frame (built by
    hand) is accepted unchecked."""
    if k < 1:
        raise ValueError("k must be >= 1")
    norm = ref.select(F.lit(0).alias("__rid"),
                      F.col(text_col).alias("__rtext"))
    return (_gram_hash_arrays(norm, "__rtext", "__rid", k, hash_fn)
            .select(F.explode("__gs").alias("__g")).distinct()
            .select(F.col("__g").alias(
                "__g", metadata={"pps_gram_k": k,
                                 "pps_gram_hash": hash_fn})))


def _check_gram_stamp(ref_grams: DataFrame, k: int, hash_fn: str) -> None:
    """Raise when a :func:`build_ref_grams` frame's stamped contract
    disagrees with the caller's ``k``/``hash_fn`` — a mismatch silently
    mis-flags (wrong gram length or hash family never matches, so
    contamination goes undetected). Unstamped frames pass unchecked."""
    try:
        meta = ref_grams.schema["__g"].metadata or {}
    except KeyError:  # PySparkKeyError: no __g column
        return
    sk, sh = meta.get("pps_gram_k"), meta.get("pps_gram_hash")
    if (sk is not None and int(sk) != k) or (
            sh is not None and sh != hash_fn):
        raise ValueError(
            f"ref_grams was built with k={sk}, hash_fn={sh!r} but this "
            f"call uses k={k}, hash_fn={hash_fn!r} — rebuild the gram "
            "index or pass the matching parameters")


def contaminated_spans(
    df: DataFrame,
    ref: DataFrame | None,
    text_col: str,
    id_col: str,
    *,
    k: int = 6,
    hash_fn: str = "xxhash64",
    ref_text_col: str | None = None,
    ref_grams: DataFrame | None = None,
) -> DataFrame:
    """Cross-corpus contamination spans: regions of ``df`` whose EVERY
    ``k``-gram also occurs somewhere in ``ref`` — ``(id_col,
    span_start, span_end, n_grams)``, maximal per document. The
    span-granular form of benchmark decontamination (the n-gram-overlap
    procedure of the GPT-3 appendix / Lee et al. 2022 applied across
    corpora: any test-set substring of ≥ k tokens quoted verbatim in a
    training document is covered by flagged k-grams, so the merged span
    contains it).

    Scale shape — ``ref`` is the benchmark side and is typically tiny
    vs the corpus: one map pass builds the corpus' positional gram
    hashes (shared :func:`_gram_hash_arrays` front, NO pin — single
    consumer), one pass builds ``ref``'s DISTINCT gram set (test-set
    sized), and a semi-join on the gram hash flags positions — AQE
    broadcasts the ref set when it fits, so the corpus commonly never
    shuffles at all; the span merge is the standard per-doc window.
    Same approximation contract as :func:`duplicated_spans`: a flagged
    span's k-grams may match DIFFERENT ref locations (gram presence,
    not a single verbatim partner), which over-flags — the safe
    direction for decontamination — and xxhash64 collisions are
    ~n²/2⁶⁴. ``hash_fn="poly"`` for the ANSI-reproducible oracle
    family. ``ref_text_col`` names the benchmark's text column when it
    differs from the corpus'; ``ref_grams`` (a :func:`build_ref_grams`
    frame, typically persisted or read back from parquet) skips the
    benchmark pass entirely — ``ref`` is then ignored."""
    if k < 1:
        raise ValueError("k must be >= 1")
    grams = _gram_hash_arrays(df, text_col, id_col, k, hash_fn).select(
        F.col(id_col), F.posexplode("__gs").alias("pos", "__g"))
    built_from = None
    if ref_grams is not None:
        _check_gram_stamp(ref_grams, k, hash_fn)
    if ref_grams is None:
        if ref is None:
            raise ValueError("pass ref or ref_grams")
        # ref contributes only its gram SET — no id requirement there
        built_from = ref.select(F.col(ref_text_col or text_col))
        ref_grams = build_ref_grams(ref, ref_text_col or text_col,
                                    k=k, hash_fn=hash_fn)
    # Join-strategy pin (r14 — the fuzzy_join explode lesson applied to
    # this operator's own semi-join): the gram set comes from an
    # explode, whose Catalyst size estimate is ~the PRE-explode bytes,
    # so the planner statically broadcasts it no matter how big the
    # benchmark really is (observed: a 50k-doc ref planned as a
    # BroadcastHashJoin). Broadcast only when the ref is provably small
    # (one 8-byte hash per token ≈ 2× the ref's text bytes bounds the
    # gram set from the PRE-explode estimate); a huge eval corpus takes
    # a shuffle semi-join instead — AQE may still downgrade from
    # accurate runtime sizes. For a caller-supplied ref_grams frame the
    # frame's own estimate decides — but ONLY a materialized standing
    # index (parquet scan / local relation of the gram column) reports
    # real bytes. A build_ref_grams frame that was merely persist()ed
    # (decontaminated_stream's default) keeps the explode+distinct
    # lineage in its ANALYZED plan — cache substitution happens after
    # analysis, so analyzed().stats() never sees the InMemoryRelation
    # and still passes through the pre-explode text estimate. Detect
    # that by the Generate node and apply the worst-case factor 12
    # (gram hashes ≈ 1.3× raw text bytes, and a parquet-backed ref's
    # estimate is the COMPRESSED file size, ~3× under raw — 4 × 3).
    # Factor 4 for the built-from-ref path: there the estimate is the
    # ref frame itself (text bytes, compressed when parquet-backed),
    # and 4× bounds the gram set from it as above.
    if built_from is not None:
        est_src, factor = built_from, 4
    else:
        est_src = ref_grams
        try:
            plan = ref_grams._jdf.queryExecution().analyzed().toString()
        except (Py4JError, AttributeError):
            plan = "Generate"  # unknown lineage: assume the worst
        factor = 12 if "Generate" in plan else 1
    size = analyzed_size_bytes(est_src)
    small = size is not None and size * factor < (8 << 20)
    ref_side = (F.broadcast(ref_grams.select("__g")) if small
                else ref_grams.select("__g").hint("merge"))
    hits = grams.join(ref_side, "__g", "left_semi").select(id_col, "pos")
    return _merge_gram_positions(hits, id_col, k)


def decontaminate(
    df: DataFrame,
    ref: DataFrame | None,
    text_col: str,
    id_col: str,
    *,
    k: int = 6,
    hash_fn: str = "xxhash64",
    ref_text_col: str | None = None,
    ref_grams: DataFrame | None = None,
) -> DataFrame:
    """Excise benchmark-contaminated spans from a training corpus:
    ``(id_col, clean_text, n_removed)`` — :func:`contaminated_spans`
    composed with :func:`excise_spans`, the end-to-end decontamination
    step a training pipeline runs against its eval suites. Documents
    with no contaminated span pass through unchanged. ``ref_grams``
    as in :func:`contaminated_spans` (standing benchmark gram set)."""
    spans = contaminated_spans(df, ref, text_col, id_col, k=k,
                               hash_fn=hash_fn, ref_text_col=ref_text_col,
                               ref_grams=ref_grams)
    return excise_spans(df, spans, text_col, id_col)


def contamination_report(
    df: DataFrame,
    ref: DataFrame,
    text_col: str,
    id_col: str,
    *,
    suite_col: str = "suite",
    k: int = 6,
    hash_fn: str = "xxhash64",
    ref_text_col: str | None = None,
) -> DataFrame:
    """Per-benchmark-suite contamination report (r15): production
    decontamination runs against MANY eval suites at once and needs to
    know WHICH benchmark each document overlaps — ``(id_col, suite,
    n_spans, contaminated_tokens)``, one row per (document, suite) with
    any flagged span. ``ref`` carries ``suite_col`` labelling each
    benchmark row; a k-gram occurring in several suites flags the
    document against each (span merge is per (doc, suite), so the same
    contaminated region is reported under every suite it matches — the
    report answers "is doc X unsafe for eval suite S", not "how many
    distinct dirty tokens").

    Scale shape mirrors :func:`contaminated_spans`: one corpus gram
    pass, one test-set-sized per-suite DISTINCT gram frame, an equi-
    join on the gram hash (the suite column rides along; same explode-
    estimate broadcast bound as the single-suite semi-join), and the
    per-(doc, suite) window merge. Cost over the single-suite operator
    is the extra fan-out when grams match multiple suites — bounded by
    suites-per-gram, not corpus size."""
    if k < 1:
        raise ValueError("k must be >= 1")
    grams = _gram_hash_arrays(df, text_col, id_col, k, hash_fn).select(
        F.col(id_col), F.posexplode("__gs").alias("pos", "__g"))
    # the suite label rides as the "id" of the gram pass (the helper
    # projects to (id, __gs) — exactly the pair we need here)
    norm = ref.select(F.col(suite_col).alias("__suite"),
                      F.col(ref_text_col or text_col).alias("__rtext"))
    ref_grams = (_gram_hash_arrays(norm, "__rtext", "__suite", k, hash_fn)
                 .select("__suite", F.explode("__gs").alias("__g"))
                 .distinct())
    # same static-broadcast bound as contaminated_spans: the suite-gram
    # frame comes from an explode whose Catalyst estimate is ~the
    # pre-explode ref bytes — broadcast only when the ref is provably
    # small, else pin a shuffle join and let AQE downgrade at runtime.
    size = analyzed_size_bytes(ref)
    small = size is not None and size * 4 < (8 << 20)
    ref_side = (F.broadcast(ref_grams) if small
                else ref_grams.hint("merge"))
    hits = grams.join(ref_side, "__g").select(id_col, "__suite", "pos")
    spans = _merge_gram_positions(hits, id_col, k, extra_keys=["__suite"])
    return (spans.groupBy(id_col, F.col("__suite").alias(suite_col))
            .agg(F.count(F.lit(1)).alias("n_spans"),
                 F.sum(F.col("span_end") - F.col("span_start"))
                 .cast("long").alias("contaminated_tokens")))


def contamination_stats(
    df: DataFrame,
    ref: DataFrame | None,
    text_col: str,
    id_col: str,
    *,
    k: int = 6,
    hash_fn: str = "xxhash64",
    ref_text_col: str | None = None,
    ref_grams: DataFrame | None = None,
) -> DataFrame:
    """Per-document contamination accounting vs a benchmark: ``(id_col,
    n_tokens, contaminated_tokens, contamination)`` for EVERY document
    (0 / 0.0 when nothing is flagged). ``contaminated_tokens`` is the
    token mass under :func:`contaminated_spans`' merged spans (spans
    are non-overlapping by construction, so a plain sum is exact);
    ``contamination`` the fraction of the document's tokens. The spans
    frame is result-sized and the per-doc sum is a tiny aggregate, so
    the cost over :func:`contaminated_spans` is one AQE-broadcastable
    join back to the corpus."""
    spans = contaminated_spans(df, ref, text_col, id_col, k=k,
                               hash_fn=hash_fn, ref_text_col=ref_text_col,
                               ref_grams=ref_grams)
    per_doc = spans.groupBy(id_col).agg(
        F.sum(F.col("span_end") - F.col("span_start"))
        .cast("long").alias("__ctk"))
    tk = simple_tokens(F.col(text_col))
    out = (df.join(per_doc, id_col, "left")
           .select(*df.columns,
                   F.size(tk).cast("long").alias("n_tokens"),
                   F.coalesce(F.col("__ctk"), F.lit(0)).cast("long")
                   .alias("contaminated_tokens"))
           .withColumn(
               "contamination",
               F.when(F.col("n_tokens") > 0,
                      F.col("contaminated_tokens").cast("double")
                      / F.col("n_tokens")).otherwise(F.lit(0.0))))
    return attach_cached(out, *getattr(spans, "_pps_cached", ()))


def decontaminate_drop(
    df: DataFrame,
    ref: DataFrame | None,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.5,
    k: int = 6,
    hash_fn: str = "xxhash64",
    ref_text_col: str | None = None,
    ref_grams: DataFrame | None = None,
) -> DataFrame:
    """Whole-document contamination policy (r15 — the blunter
    production alternative to span excision): DROP every document whose
    contaminated-token fraction is ``>= threshold``, pass the rest
    through with the :func:`contamination_stats` columns attached. Span
    excision (:func:`decontaminate`) preserves clean remainders;
    dropping is what pipelines choose when a heavily-overlapping
    document is more likely benchmark-derived than coincidentally
    overlapping (GPT-3 appendix C drops whole documents). Same scale
    shape as the stats pass — the filter is a JVM predicate.
    ``threshold=0`` drops every document with ANY flagged gram."""
    if not (0.0 <= threshold <= 1.0):
        raise ValueError("threshold must be in [0, 1]")
    stats = contamination_stats(df, ref, text_col, id_col, k=k,
                                hash_fn=hash_fn, ref_text_col=ref_text_col,
                                ref_grams=ref_grams)
    return stats.where(F.col("contamination") < F.lit(float(threshold))
                       if threshold > 0
                       else F.col("contaminated_tokens") == 0)


def excise_spans(
    df: DataFrame,
    spans: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Cut duplicated token spans out of each document: ``(id_col,
    clean_text, n_removed)`` — the excision step of exact-substring
    dedup (pair with :func:`duplicated_spans`; Lee et al. 2022 drop one
    occurrence of each duplicate, the simpler fleet policy here drops
    every flagged span — the spans frame IS the policy input, so callers
    wanting keep-one semantics anti-join their keeper spans out first).

    Documents with no flagged span pass through unchanged (left join,
    ``n_removed = 0``). Shuffle shape: spans is a RESULT-sized frame
    (duplicated regions only), aggregated to one ``array<struct>`` per
    flagged doc and joined on the doc id — AQE broadcasts it when small;
    the token filter itself is a JVM expression over the tokenized
    document (``exists`` probe per token against the doc's few spans),
    no Python, no explosion: the corpus moves through exactly one
    map stage plus that join."""
    span_arr = (
        spans.groupBy(id_col)
        .agg(F.collect_list(
            F.struct(F.col("span_start").alias("s"),
                     F.col("span_end").alias("e"))).alias("__spans"))
    )
    tk = simple_tokens(F.col(text_col))
    kept = F.filter(
        tk,
        lambda t, i: ~F.exists(
            F.col("__spans"),
            lambda sp: (i >= sp["s"]) & (i < sp["e"])))
    out = (
        df.join(span_arr, id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("__spans").isNull(), F.col(text_col))
            .otherwise(F.concat_ws(" ", kept)).alias("clean_text"),
            F.when(F.col("__spans").isNull(), F.lit(0).cast("long"))
            .otherwise((F.size(tk) - F.size(kept)).cast("long"))
            .alias("n_removed"),
        )
    )
    # propagate the spans frame's persisted intermediates (the gram-array
    # pin from duplicated_spans) so release_cached on the composed output
    # frees them
    return attach_cached(out, *getattr(spans, "_pps_cached", ()))


def exact_substring_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    min_len: int = 12,
    k: int = 6,
    hash_fn: str = "xxhash64",
    max_bucket_size: int = 256,
) -> DataFrame:
    """ARBITRARY-LENGTH exact-substring spans shared verbatim between
    ≥ 2 documents: ``(id_col, span_start, span_end)`` — every maximal
    token interval of length ≥ ``min_len`` whose exact token sequence
    also occurs in another document (token-index half-open spans,
    per-doc overlapping matches merged).

    The suffix-array ExactSubstr grain of Lee et al. 2022
    (arXiv:2107.06499) — :func:`duplicated_spans` detects regions whose
    every k-gram is repeated SOMEWHERE in the corpus (the grams of one
    span may match different partners), while this operator requires a
    single verbatim partner per match, which is the semantics the
    suffix-array formulation computes. Distributed approximation via
    winnowing anchors + bidirectional extension:

    1. per-position k-gram hashes (one JVM array pass, as in
       :func:`duplicated_spans`);
    2. winnowing anchor selection (Schleimer et al. 2003) with a gram
       window of ``w = min_len - k + 1``: each window's minimum gram is
       an anchor, so selection is CONTENT-DEFINED and any substring of
       ``>= w + k - 1 = min_len`` tokens shared by two documents
       contains an anchor selected in BOTH — the detection guarantee
       that mod-``p`` hash sampling lacks. Anchors are a ~1/w sample of
       gram positions, so the exploded frame is corpus-tokens/w rows;
    3. anchor-occurrence pairing by gram hash — an equi-self-join on the
       hash with the standard oversized-bucket cap
       (:func:`_cap_bucket_entries`) PLUS hub edges (r13): a boilerplate
       anchor shared by b documents costs min(b, cap)² sampled pairs
       plus b − cap linear hub pairs (every dropped entry pairs with the
       bucket's min-(id, pos) kept entry), never b². The hub edges are
       what keep DOC-LEVEL span recall at 1.0 when a hot sentence is a
       document's only duplicated content (measured: 7.4% recall without
       them at b=10k / cap=256, 100% with — BASELINE.md r13). NO
       all-pairs stage anywhere;
    4. bidirectional extension: each anchor pair joins its two token
       arrays and extends left/right while tokens match EXACTLY (a JVM
       ``zip_with``/``array_position`` scan — the extension IS the
       verification, so gram-hash collisions cannot produce false
       spans), keeping extents with total length ≥ ``min_len``;
    5. per-document interval merge of surviving spans (one keyed
       window), yielding maximal spans for :func:`excise_spans`.

    Approximation vs a true suffix array: a capped hot anchor samples
    its pair coverage, but every dropped entry keeps one verified hub
    edge, so a document recovers every qualifying span whose hot-gram
    occurrences share the hub occurrence's surrounding context — the
    boilerplate regime that makes buckets hot in the first place (the
    r13 adversarial fixture pinned this at 100% doc recall; before hub
    edges the "span survives via its other anchors" argument failed
    exactly when all the span's anchors were the same hot gram). The
    residual tail is NOT absolute (r14 honesty note): hub edges exclude
    same-document pairs, so when the hot gram recurs inside the HUB's
    own document under a second, different span context, that second
    span of the hub's document can still be missed if its cross-doc
    partners were all hash-dropped — recall for that corner is
    probabilistic in the cap hash, not guaranteed (no cheap fix exists:
    pairing with the hub only recovers spans matching the hub's
    context, so a per-entry guarantee would need context-aware pairing
    — i.e. the uncapped join). Extension costs O(match length +
    anchor's doc-suffix scan) per pair rather than amortized O(1). Corpus cost
    is otherwise linear: tokenize+hash map pass, anchors/w explode, one
    hash-keyed shuffle for pairing, pair-bounded extension joins, one
    doc-keyed shuffle to merge. ``hash_fn="poly"`` makes every hash
    ANSI-reproducible for the oracle gate."""
    if hash_fn not in _HASH_FNS:
        raise ValueError(f"hash_fn must be one of {_HASH_FNS}")
    if k < 1 or min_len < k:
        raise ValueError("need min_len >= k >= 1")
    base = _base_hash(hash_fn)
    w = min_len - k + 1
    tk = simple_tokens(F.col(text_col))

    def gram_hashes(th):
        n = F.size(th)
        if hash_fn == "poly":
            from ..functions.text import POLY_MOD, POLY_MUL
            fold = lambda i: F.aggregate(  # noqa: E731
                F.slice(th, i + 1, k), F.lit(0).cast("long"),
                lambda acc, x: (acc * F.lit(POLY_MUL) + x) % F.lit(POLY_MOD))
        else:
            fold = lambda i: F.xxhash64(F.slice(th, i + 1, k))  # noqa: E731
        return F.when(
            n >= k,
            F.transform(F.sequence(F.lit(0), n - k), fold)
        ).otherwise(F.array().cast("array<long>"))

    from pyspark import StorageLevel

    from ..functions.text import let

    # token arrays + gram hashes, pinned once (the anchor explode AND the
    # two extension joins read it) — same DISK_ONLY rationale as
    # duplicated_spans' gram pin
    arr = df.select(
        F.col(id_col).alias("id"),
        tk.alias("__tk"),
        let(F.transform(tk, lambda t: base(t)), gram_hashes).alias("__gs"),
    ).persist(StorageLevel.DISK_ONLY)

    def anchor_positions(gs):
        ng = F.size(gs)

        def win_anchor(i):
            sl = F.slice(gs, i + 1, w)
            # leftmost minimum of the window — content-defined, so the
            # same window content selects the same relative position in
            # every document containing it
            return i + F.array_position(sl, F.array_min(sl)) - 1

        return (
            F.when(ng >= w, F.array_distinct(
                F.transform(F.sequence(F.lit(0), ng - w), win_anchor)))
            .when(ng > 0,
                  F.array(F.array_position(gs, F.array_min(gs)) - 1))
            .otherwise(F.array().cast("array<long>")))

    pos_structs = F.transform(
        anchor_positions(F.col("__gs")),
        lambda p: F.struct(
            p.alias("pos"),
            F.element_at("__gs", p.cast("int") + 1).alias("g")))
    entries = (arr.select("id", F.explode(pos_structs).alias("__a"))
               .select("id", F.col("__a.pos").alias("pos"),
                       F.col("__a.g").alias("__g")))
    # Oversized-bucket frame computed ONCE and persisted (bounded by
    # n_entries/cap rows by construction) — it feeds the cap filter AND
    # the hub-edge branch below; without the pin each consumer re-runs
    # the aggregate over the anchor frame (+35% healthy-corpus
    # wall-clock at sf1, measured r13).
    oversized = (entries.groupBy("__g")
                 .agg(F.count(F.lit(1)).alias("__bsz"))
                 .where(F.col("__bsz") > max_bucket_size))
    oversized = lineage_cut(oversized)
    kept = (F.pmod(F.xxhash64("id", "__g"), F.col("__bsz"))
            < max_bucket_size)
    capped = (entries.join(F.broadcast(oversized), "__g", "left")
              .where(F.col("__bsz").isNull() | kept).drop("__bsz"))
    a, b = capped.alias("a"), capped.alias("b")
    pairs = (
        a.join(b, on="__g")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("a.pos").alias("pa"),
                F.col("b.id").alias("id_b"), F.col("b.pos").alias("pb")))
    # Hub edges (r13 — the capped_pair_candidates pattern, carrying
    # POSITIONS): the cap alone collapses recall when a span's anchors
    # all live in ONE hot bucket (a boilerplate sentence shared by b
    # docs keeps ~cap entries, so b − cap docs get NO pair and lose the
    # span — measured 7.4% doc recall at b=10k/cap=256, BASELINE.md r13;
    # the "span survives via its other anchors" argument only holds when
    # the anchors differ). Every DROPPED entry of an oversized bucket
    # pairs with the bucket's hub (min (id, pos) KEPT entry,
    # min-over-all fallback): linear in bucket size, and the extension
    # stage still verifies every hub pair token-exactly, so no false
    # span can enter. Healthy buckets: the oversized pin is empty and
    # the whole branch is a no-op probe against an empty broadcast.
    tagged = entries.join(F.broadcast(oversized), "__g", "inner")
    hubs = (tagged.groupBy("__g")
            .agg(F.min(F.when(kept, F.struct("id", "pos"))).alias("__kh"),
                 F.min(F.struct("id", "pos")).alias("__ah"))
            .select("__g", F.coalesce("__kh", "__ah").alias("__hub")))
    first = F.col("id") < F.col("__hub.id")
    hub_edges = (
        tagged.where(~kept)
        .join(hubs, "__g")
        .where(F.col("id") != F.col("__hub.id"))
        .select(
            F.when(first, F.col("id")).otherwise(F.col("__hub.id"))
            .alias("id_a"),
            F.when(first, F.col("pos")).otherwise(F.col("__hub.pos"))
            .alias("pa"),
            F.when(first, F.col("__hub.id")).otherwise(F.col("id"))
            .alias("id_b"),
            F.when(first, F.col("__hub.pos")).otherwise(F.col("pos"))
            .alias("pb")))
    pairs = pairs.unionByName(hub_edges).distinct()

    def match_len(xs, ys):
        # tokens matched before the first mismatch; zip_with pads the
        # shorter side with nulls, which coalesce to a mismatch, so the
        # scan self-terminates at either array's end
        eqs = F.zip_with(xs, ys,
                         lambda x, y: F.coalesce(x == y, F.lit(False)))
        p = F.array_position(eqs, F.lit(False))
        return (F.when(p == 0, F.least(F.size(xs), F.size(ys)))
                .otherwise(p - 1).cast("long"))

    pa_i, pb_i = F.col("pa").cast("int"), F.col("pb").cast("int")
    ext = (pairs
           .join(arr.select(F.col("id").alias("id_a"),
                            F.col("__tk").alias("__ta")), "id_a")
           .join(arr.select(F.col("id").alias("id_b"),
                            F.col("__tk").alias("__tb")), "id_b")
           .select(
               "id_a", "id_b", "pa", "pb",
               match_len(
                   F.reverse(F.slice("__ta", 1, pa_i)),
                   F.reverse(F.slice("__tb", 1, pb_i))).alias("__l"),
               match_len(
                   F.slice("__ta", pa_i + 1, F.size("__ta") - pa_i),
                   F.slice("__tb", pb_i + 1, F.size("__tb") - pb_i))
               .alias("__r"))
           .where(F.col("__l") + F.col("__r") >= min_len))
    spans_raw = (
        ext.select(F.col("id_a").alias("id"),
                   (F.col("pa") - F.col("__l")).alias("span_start"),
                   (F.col("pa") + F.col("__r")).alias("span_end"))
        .unionByName(
            ext.select(F.col("id_b").alias("id"),
                       (F.col("pb") - F.col("__l")).alias("span_start"),
                       (F.col("pb") + F.col("__r")).alias("span_end")))
        .distinct())
    # maximal spans: merge overlapping/touching intervals per document
    wo = Window.partitionBy("id").orderBy("span_start", "span_end")
    prev_max = F.max("span_end").over(
        wo.rowsBetween(Window.unboundedPreceding, -1))
    brk = F.when(F.coalesce(prev_max, F.lit(-1)) >= F.col("span_start"),
                 F.lit(0)).otherwise(F.lit(1))
    merged = (
        spans_raw.withColumn("__brk", brk)
        .withColumn("__lbl", F.sum("__brk").over(
            wo.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("id", "__lbl")
        .agg(F.min("span_start").cast("long").alias("span_start"),
             F.max("span_end").cast("long").alias("span_end"))
        .select(F.col("id").alias(id_col), "span_start", "span_end"))
    return attach_cached(merged, arr, oversized)


def chunk_dedup_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    chunk_size: int = 200,
) -> DataFrame:
    """Sub-document (paragraph-level) dedup signals — the CCNet/Gopher-style
    pass that catches boilerplate repeated ACROSS documents that
    whole-document dedup misses (headers, navbars, license blocks).

    Documents are cut into non-overlapping ``chunk_size``-char chunks
    (packing.chunk_documents with overlap 0 — overlap would make every
    chunk trivially duplicated); a chunk is a duplicate when its exact text
    occurs more than once corpus-wide. Returns per document:
    ``(id_col, n_chunks, n_dup_chunks, dup_chunk_frac)``.

    Scale shape: chunk rows carry sha2-256 hashes (32 B) into one count
    window over the hash and one per-document aggregation — bodies never
    shuffle. Empty documents have one empty chunk; empty chunks are
    EXCLUDED from the duplicate counting (every empty doc would otherwise
    "duplicate" every other) but still count toward ``n_chunks``.
    """
    from .packing import chunk_documents

    chunks = chunk_documents(
        ensure_parallelism(df), text_col, id_col,
        chunk_size=chunk_size, overlap=0,
    ).select(
        F.col(id_col),
        F.col("chunk_len"),
        F.sha2(F.col("chunk_text"), 256).alias("__h"),
    )
    # ONE linear pipeline: the corpus-wide multiplicity is a COUNT WINDOW
    # over the hash — exchange(__h) + streaming count — so there is no
    # second hash exchange and no persist to share the chunk+sha2 work
    # (BASELINE.md r10: −34% against a count aggregate joined back).
    # Duplicate-hash groups are multiplicity-sized (the hot boilerplate
    # hash is one task's worth of 32 B rows), so no funnel; empty chunks
    # (all sharing sha2('')) count NULL votes only.
    w = Window.partitionBy("__h")
    nz = F.count(F.when(F.col("chunk_len") > 0, 1)).over(w)
    flagged = chunks.select(
        F.col(id_col), F.col("chunk_len"),
        ((F.col("chunk_len") > 0) & (nz > 1)).alias("__dup"))
    return (
        flagged.groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_chunks"),
             F.sum(F.col("__dup").cast("int")).alias("n_dup_chunks"))
        .select(
            id_col, "n_chunks",
            F.col("n_dup_chunks").cast("long").alias("n_dup_chunks"),
            (F.col("n_dup_chunks").cast("double") / F.col("n_chunks"))
            .alias("dup_chunk_frac"),
        )
    )


# --------------------------------------------------------------------- #
# SimHash
# --------------------------------------------------------------------- #

def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 64,
            hash_fn: str = "xxhash64") -> DataFrame:
    """(id, simhash) — classic bit-vote simhash over whitespace tokens.

    bit_j of the signature is 1 iff the majority of token hashes have bit_j
    set. Computed as: for each bit, sum of ±1 votes via shiftright/mask —
    all integer Column arithmetic, single projection, no shuffle.

    hash_fn="poly" gives the ANSI-reproducible oracle variant; the poly hash
    carries only ~30 meaningful bits (mod 1e9+7), so pass bits<=30 with it."""
    h = _base_hash(hash_fn)
    if hash_fn == "poly" and bits > 30:
        raise ValueError("poly hash has ~30 usable bits; pass bits<=30")
    df = ensure_parallelism(df)
    toks = simple_tokens(F.col(text_col))
    hashes = F.transform(F.array_distinct(toks), lambda t: h(t))
    # stage the token-hash array: all `bits` vote expressions read it
    staged = df.select(F.col(id_col).alias("id"), hashes.alias("__th"))

    def vote_fn(j: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1))

    bit_exprs = []
    for j in range(bits):
        votes = F.aggregate(F.col("__th"), F.lit(0).cast("long"), vote_fn(j))
        bit_exprs.append(F.when(votes > 0, F.lit(1).cast("long") * (2 ** j if j < 63 else -(2 ** 63)))
                         .otherwise(F.lit(0).cast("long")))
    sig = bit_exprs[0]
    for e in bit_exprs[1:]:
        sig = sig + e
    return staged.select("id", sig.alias("simhash"))


def simhash_candidates(sig_df: DataFrame, quadrant_bits: int = 16,
                       max_bucket_size: int | None = 1024) -> DataFrame:
    """Near-dup candidates: pairs sharing at least one 16-bit quadrant of the
    simhash (catches Hamming distance ≤ 3 for 64-bit signatures). Same
    bucket-join shape as MinHash LSH, including the hot-bucket guard —
    a low-entropy corpus (short docs, shared boilerplate) can put an
    unbounded member count into one (quadrant, qval) bucket; oversized
    buckets are deterministically sampled to ~``max_bucket_size`` entries
    by a lazy window filter on the join's own exchange (see
    :func:`_cap_bucket_entries`; ``None`` disables; monitor with
    :func:`lsh_bucket_stats`). The entry frame is persisted — both
    self-join sides read it, and recomputing it means re-running the
    64-bit-vote signature."""
    n_quadrants = 64 // quadrant_bits
    mask = (1 << quadrant_bits) - 1
    entries = sig_df.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(q).alias("quadrant"),
                F.shiftrightunsigned("simhash", q * quadrant_bits)
                 .bitwiseAND(F.lit(mask)).alias("qval"),
            )
            for q in range(n_quadrants)
        ])).alias("b"),
    ).select("id", "b.quadrant", "b.qval")
    entries = lineage_cut(entries)
    capped = entries
    if max_bucket_size is not None:
        capped = _cap_bucket_entries(entries, ["quadrant", "qval"],
                                     max_bucket_size)
    a, b = capped.alias("a"), capped.alias("b")
    out = (
        a.join(b, on=["quadrant", "qval"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    return attach_cached(out, entries)


def hamming_pairs(hash_df: DataFrame, hash_col: str, id_col: str = "id",
                  max_dist: int = 6, band_bits: int | None = None,
                  max_bucket_size: int | None = 1024) -> DataFrame:
    """Near-dup pairs under HAMMING distance over a 64-bit hash column —
    the candidate/verify shape for perceptual-image dedup
    (multimodal.extract_perceptual_hashes) or any 64-bit signature:
    candidates share at least one ``band_bits`` band of the hash (the
    simhash quadrant trick), verified by ``bit_count(a XOR b) <=
    max_dist``, all JVM-side. Same hot-bucket cap as the other LSH
    families (flat-color thumbnails all hash to 0 — a classic
    mega-bucket). NULL hashes (undecodable blobs) are excluded.
    Output: (id_a, id_b, hamming).

    Recall contract: two hashes at distance d share an untouched band
    whenever the band COUNT exceeds d (pigeonhole over 64//band_bits
    bands). ``band_bits=None`` (default) derives the widest band that
    honors it: ``64 // (max_dist + 1)`` (max_dist=6 -> 9-bit bands, 7
    bands). An explicit ``band_bits`` with too few bands for ``max_dist``
    is accepted for cost control but WARNS — pairs at distance >=
    64//band_bits are then found only if they coincidentally share a
    band."""
    if band_bits is None:
        band_bits = max(1, 64 // (int(max_dist) + 1))
    n_bands = 64 // band_bits
    if max_dist >= n_bands:
        import warnings
        warnings.warn(
            f"hamming_pairs: {n_bands} bands of {band_bits} bits only "
            f"guarantee recall for distance < {n_bands}, but max_dist="
            f"{max_dist} — pairs at distance {n_bands}..{max_dist} may be "
            f"missed; pass band_bits<=64//(max_dist+1) for full recall",
            stacklevel=2)
    mask = (1 << band_bits) - 1
    src = hash_df.filter(F.col(hash_col).isNotNull())
    entries = src.select(
        F.col(id_col).alias("id"), F.col(hash_col).alias("__h64"),
        F.explode(F.array(*[
            F.struct(
                F.lit(q).alias("band"),
                F.shiftrightunsigned(hash_col, q * band_bits)
                 .bitwiseAND(F.lit(mask)).alias("bval"))
            for q in range(n_bands)
        ])).alias("b"),
    ).select("id", "__h64", "b.band", "b.bval")
    entries = lineage_cut(entries)
    capped = entries
    if max_bucket_size is not None:
        capped = _cap_bucket_entries(entries, ["band", "bval"],
                                     max_bucket_size)
    a, b = capped.alias("a"), capped.alias("b")
    ham = F.bit_count(F.col("a.__h64").bitwiseXOR(F.col("b.__h64")))
    out = (
        a.join(b, on=["band", "bval"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                ham.alias("hamming"))
        .where(F.col("hamming") <= F.lit(int(max_dist)))
        .distinct()
    )
    return attach_cached(out, entries)


# --------------------------------------------------------------------- #
# clustering the near-dup graph + keep-list selection
# --------------------------------------------------------------------- #

def dup_clusters(pairs: DataFrame, n_iters: int = 16,
                 id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """(id, cluster_id) — connected components of the near-dup pair graph;
    cluster_id = the minimum member id.

    Each round does two keyed steps, both shuffled on vertex/label ids:
      1. hop — every vertex adopts the minimum label among itself and its
         neighbors (join + min-agg);
      2. pointer jump — label(v) ← label(label(v)), the path-halving trick
         that turns O(diameter) convergence into O(log diameter) (the same
         idea as the large-star/small-star MapReduce-CC algorithm).

    EARLY STOP (round 3): the loop exits as soon as a round changes zero
    labels — each round already materializes its ``localCheckpoint``, so the
    convergence check is one cheap sum over a per-row changed flag computed
    inline (no extra join, no extra pass over the data). ``n_iters`` is the
    SAFETY CAP, not the round count: shallow graphs (the common near-dup
    case — most clusters are pairs/triples) stop after 2 rounds, and the
    O(log diameter) pointer-jumping keeps even a 65k-diameter path graph
    under the default cap. Hitting the cap on a pathological graph logs a
    warning instead of silently returning half-merged components.

    ``localCheckpoint`` between rounds truncates lineage — without it the
    plan doubles per iteration and the optimizer chokes long before the
    data does.
    """
    # Symmetrize in ONE pass over ``pairs``: a two-branch union would scan
    # the pair lineage twice, and the pairs feeding this are typically the
    # output of a whole (unpersisted) candidate+verify pipeline — doubling
    # its cost inside the very first action here. explode(array(fwd, rev))
    # emits both directions from a single read.
    sym_raw = (
        pairs.select(F.explode(F.array(
            F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
            F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
        )).alias("e"))
        .select("e.src", "e.dst")
        .persist()
    )
    # Size the per-round SHUFFLES to the GRAPH, not the session default:
    # each round localCheckpoints its frames BEFORE AQE can coalesce, so a
    # 5k-vertex dup graph would otherwise run every round as 100+
    # near-empty tasks — pure scheduler overhead, measured ~2x the whole
    # clustering cost at bench scale. Rather than mutating the session-global
    # spark.sql.shuffle.partitions (which would bleed into concurrent queries
    # on a shared SparkSession), every per-round join/agg input is EXPLICITLY
    # hash-repartitioned to n_parts on its key: repartition(n, key) yields
    # HashPartitioning(key, n), which sort-merge join and hash aggregate
    # both accept as-is, so no conf-sized exchange is ever planned. The
    # sym persist also stops every round from re-running the whole upstream
    # candidate/verify pipeline that produced the pairs.
    spark = pairs.sparkSession
    # Initialize with the FIRST HOP already applied: label(v) = min(v,
    # min neighbor). Same fixpoint as the identity init (min-label
    # propagation is monotone from any state ≥ the component minimum that
    # includes self), and the common shallow graphs — pair/triple clusters
    # — then converge in ONE loop round instead of two, saving a full
    # join+checkpoint+collect cycle per clustering call.
    labels = (sym_raw.groupBy("dst").agg(F.min("src").alias("__nmin"))
              .select(F.col("dst").alias("id"),
                      F.least("dst", "__nmin").alias("label")))
    n_vertices = labels.count()
    n_parts = max(2, min(spark.sparkContext.defaultParallelism * 4,
                         n_vertices // 250_000 + 2))
    sym = sym_raw.repartition(n_parts, "dst").persist()
    rounds_run = 0
    try:
        for i in range(n_iters):
            neigh = (
                sym.join(labels.withColumnRenamed("id", "dst")
                         .repartition(n_parts, "dst"), "dst")
                .repartition(n_parts, "src")
                .groupBy("src").agg(F.min("label").alias("nlabel"))
                .withColumnRenamed("src", "id")
            )
            hopped = (
                labels.repartition(n_parts, "id")
                .join(neigh.repartition(n_parts, "id"), "id", "left")
                .select("id", F.col("label").alias("__old"),
                        F.least("label", F.coalesce("nlabel", "label")).alias("label"))
            )
            parents = hopped.select(F.col("id").alias("label"),
                                    F.col("label").alias("plabel"))
            flagged = (
                hopped.repartition(n_parts, "label")
                .join(parents.repartition(n_parts, "label"), "label", "left")
                .select("id",
                        F.coalesce("plabel", "label").alias("label"),
                        (F.coalesce("plabel", "label") != F.col("__old"))
                        .cast("long").alias("__chg"))
                .localCheckpoint(eager=False)
            )
            # one scalar agg over the checkpointed vertex frame; the
            # checkpoint is computed exactly once (this action) and re-read
            # by the next round / the caller, so convergence detection adds
            # no data pass
            changed = flagged.agg(F.sum("__chg")).collect()[0][0] or 0
            labels = flagged.drop("__chg")
            rounds_run = i + 1
            if changed == 0:
                break
        else:
            import warnings
            warnings.warn(
                f"dup_clusters hit the {n_iters}-round cap before converging; "
                "components may be partially merged — raise n_iters",
                RuntimeWarning, stacklevel=2)
    finally:
        sym.unpersist()
        sym_raw.unpersist()
    out = labels.withColumnRenamed("label", "cluster_id")
    # observable convergence: how many rounds actually ran (≤ n_iters)
    out._pps_cc_rounds = rounds_run
    return out


def dedup_keep_list(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.8,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_size: int = 3,
    cluster_iters: int = 16,
    hash_fn: str = "xxhash64",
    quality_col: str | None = None,
) -> DataFrame:
    """End-to-end corpus dedup: (doc_id, keep) for EVERY input document.

    The canonical training-data pipeline:
      1. exact collapse — content groups keep their minimum id;
      2. MinHash LSH + exact Jaccard verify over the representatives;
      3. connected components over the confirmed near-dup pairs;
      4. keep = the minimum id of each cluster (singletons keep themselves);
         non-representative exact copies are dropped by step 1.

    ``quality_col`` (r14, optional) switches step 4 to BEST-MEMBER
    selection — the row each cluster keeps is its highest-quality
    member over ALL original rows (exact copies included, since copies
    can differ in quality metadata), tie-broken to the minimum id.
    This is what production dedup actually wants: keep the cleanest
    crawl of a page, not the lowest-id one. Cost: ZERO extra corpus
    shuffles — per-text best rows fold into the step-1 collapse
    aggregate (``max(struct(quality, -id))``, map-side combined) and
    the cluster winner is one rep-grain aggregation; the keep list is
    then an id-keyed join against one winner row per cluster. NULL
    quality ranks below every real score (coalesced to -inf; an
    all-NULL cluster degrades to min-id, the default semantics).

    Everything stays keyed on ids after the signature stage — the document
    bodies never shuffle past step 1/2's shingling. ``keep`` is boolean so
    the output joins back to the corpus as a filter column.
    """
    # rep_docs is read by the signature stage, the verify stage's shingling,
    # and the keep-list join — three consumers of a full text-keyed shuffle.
    # Persist once (memory-and-disk, so a 100 TB corpus spills rather than
    # evicts); released with the other pipeline caches via attach_cached.
    agg_cols = [F.min(id_col).alias("rid")]
    if quality_col is not None:
        agg_cols.append(F.max(F.struct(
            F.coalesce(F.col(quality_col).cast("double"),
                       F.lit(float("-inf"))).alias("q"),
            (-F.col(id_col)).alias("nid"))).alias("__best"))
    reps = df.groupBy(text_col).agg(*agg_cols)
    rep_docs = reps.select(
        F.col("rid").alias(id_col), F.col(text_col),
        *(["__best"] if quality_col is not None else []))
    rep_docs = lineage_cut(rep_docs)
    pairs = minhash_dedup(rep_docs.select(id_col, text_col), text_col,
                          id_col, threshold=threshold,
                          num_hashes=num_hashes, bands=bands,
                          shingle_size=shingle_size, pre_dedup_exact=False,
                          hash_fn=hash_fn)
    clusters = dup_clusters(pairs, n_iters=cluster_iters)
    all_ids = df.select(F.col(id_col).alias("id"))
    if quality_col is not None:
        out = _keep_by_quality(rep_docs, clusters, all_ids, id_col)
    else:
        rep_keep = (
            rep_docs.select(F.col(id_col).alias("id"))
            .join(clusters, "id", "left")
            .select("id", (F.col("cluster_id").isNull()
                           | (F.col("cluster_id") == F.col("id")))
                    .alias("keep"))
        )
        out = (
            all_ids.join(rep_keep.withColumnRenamed("keep", "__rk"),
                         "id", "left")
            .select("id", F.coalesce("__rk", F.lit(False)).alias("keep"))
        )
    return attach_cached(out, rep_docs, *getattr(pairs, "_pps_cached", ()))


def _keep_by_quality(rep_docs: DataFrame, clusters: DataFrame,
                     all_ids: DataFrame, id_col: str) -> DataFrame:
    """Shared best-member keep-list tail for ``quality_col=`` paths:
    rep_docs carries ``__best`` = per-exact-group ``max(struct(q,
    -id))`` from the collapse aggregate; the cluster winner is the max
    of those over each connected component (singletons/unmatched reps
    cluster as themselves via the coalesce), and the keep list marks
    exactly the one original row ``-__best.nid`` per cluster."""
    winners = (
        rep_docs.select(F.col(id_col).alias("id"), "__best")
        .join(clusters, "id", "left")
        .groupBy(F.coalesce("cluster_id", "id").alias("__ck"))
        .agg(F.max("__best").alias("__w"))
        .select((-F.col("__w.nid")).alias("id"), F.lit(True).alias("__rk")))
    return (all_ids.join(winners, "id", "left")
            .select("id", F.coalesce("__rk", F.lit(False)).alias("keep")))


def fuzzy_dedup_keep_list(
    df: DataFrame,
    key_col: str,
    id_col: str,
    *,
    max_dist: int = 1,
    max_len: int = 128,
    block_on=None,
    cluster_iters: int = 16,
    quality_col: str | None = None,
) -> DataFrame:
    """(id, keep) for every row: collapse rows whose ``key_col`` strings
    are within Levenshtein distance ``max_dist`` of each other —
    transitively, so a chain a~b~c keeps ONE representative — the
    short-key (title / entity / host) analog of :func:`dedup_keep_list`.

    Same pipeline shape as the MinHash keep-list, with the fuzzy join as
    the pair stage:

      1. exact collapse — identical keys keep their minimum id;
      2. :func:`operators.joins.fuzzy_join` of the representatives
         against themselves (deletion-neighborhood blocking + one
         levenshtein verify — exact ed<=k pair semantics, no cross
         join; ``block_on`` scopes matching to equality groups);
      3. :func:`dup_clusters` connected components over the pairs;
      4. keep = each cluster's minimum id (singletons keep themselves).
         NULL keys collapse as one exact group (step 1 groups them, like
         :func:`dedup_keep_list` does for text) and over-``max_len``
         keys exact-collapse but never fuzzy-match, per the fuzzy_join
         contract.

    ``quality_col`` (r14, optional) switches step 4 to BEST-MEMBER
    selection exactly like :func:`dedup_keep_list`: each cluster keeps
    its highest-quality original row (exact copies eligible), ties to
    the minimum id, NULL quality below every real score. Same
    zero-extra-shuffle shape — the per-key best folds into the step-1
    collapse aggregate and :func:`_keep_by_quality` finishes at rep
    grain.
    """
    from .joins import fuzzy_join

    blk = [block_on] if isinstance(block_on, str) else list(block_on or ())
    # exact collapse at (key, block) grain — the block columns must ride
    # on the representatives for fuzzy_join's equality blocking
    agg_cols = [F.min(id_col).alias("rid")]
    if quality_col is not None:
        agg_cols.append(F.max(F.struct(
            F.coalesce(F.col(quality_col).cast("double"),
                       F.lit(float("-inf"))).alias("q"),
            (-F.col(id_col)).alias("nid"))).alias("__best"))
    reps = df.groupBy(key_col, *blk).agg(*agg_cols)
    rep_docs = reps.select(
        F.col("rid").alias(id_col), F.col(key_col), *blk,
        *(["__best"] if quality_col is not None else []))
    rep_docs = lineage_cut(rep_docs)
    rep_keys = rep_docs.select(id_col, key_col, *blk)
    fj = fuzzy_join(rep_keys, rep_keys, key_col, left_id=id_col,
                    right_id=id_col, max_dist=max_dist, max_len=max_len,
                    block_on=block_on)
    pairs = (fj.where(F.col("left_id") < F.col("right_id"))
             .select(F.col("left_id").alias("id_a"),
                     F.col("right_id").alias("id_b")))
    clusters = dup_clusters(pairs, n_iters=cluster_iters)
    all_ids = df.select(F.col(id_col).alias("id"))
    if quality_col is not None:
        out = _keep_by_quality(rep_docs, clusters, all_ids, id_col)
    else:
        rep_keep = (
            rep_docs.select(F.col(id_col).alias("id"))
            .join(clusters, "id", "left")
            .select("id", (F.col("cluster_id").isNull()
                           | (F.col("cluster_id") == F.col("id")))
                    .alias("keep"))
        )
        out = (
            all_ids.join(rep_keep.withColumnRenamed("keep", "__rk"),
                         "id", "left")
            .select("id", F.coalesce("__rk", F.lit(False)).alias("keep"))
        )
    # every row maps to a representative via step 1, so the FALSE
    # default of the coalesce applies exactly to non-representative
    # exact copies (reps excluded from matching — NULL/over-max_len —
    # carry cluster_id NULL and keep themselves). Caches must be
    # captured from fj, the operator's RESULT object: .where/.select
    # return new DataFrames that do not carry the attribute.
    return attach_cached(out, rep_docs, *getattr(fj, "_pps_cached", ()))
