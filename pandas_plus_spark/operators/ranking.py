"""Term-weighting / relevance scoring over document tables: TF-IDF and BM25.

Beyond the reference (no string/corpus tooling, SURVEY §2.11); standard
public formulations (Salton & Buckley TF-IDF; Robertson et al. BM25 — the
Okapi formula as published). These are the ranking half of a training-data
pipeline: near-dup thresholds, quality mixes, and retrieval-based filtering
all consume term weights.

100 TB shape:
- ``doc_term_freqs`` explodes tokens map-side; the ONE corpus-sized shuffle
  keys on (doc, term) with map-side partial counts.
- document frequencies and corpus size aggregate down to vocabulary-sized /
  scalar frames, joined back by BROADCAST — the corpus never re-shuffles.
- BM25 filters the exploded terms to the query set BEFORE any shuffle, so a
  k-term query aggregates only matching postings, not the corpus.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as tx
from ..util import attach_cached, ensure_parallelism, lineage_cut


def doc_term_freqs(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """(id, term, tf) postings: whitespace terms, one row per distinct term
    per document with its in-document count."""
    return (
        ensure_parallelism(docs)
        .select(F.col(id_col), F.explode(tx.simple_tokens(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tfidf_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
) -> DataFrame:
    """Per-(doc, term) TF-IDF: ``tf * (ln((N + 1) / (df + 1)) + 1)``
    (the smoothed idf — never zero, defined for unseen terms).

    Terms with document frequency < ``min_df`` are dropped. Returns
    ``(id_col, term, tf, df, tfidf)``.

    The postings frame feeds two plan branches (document frequencies and
    the score join); Catalyst does not reliably reuse the exchange across
    them (verified: 9 exchanges, no ReusedExchange), so postings are
    persisted — one explode+shuffle instead of two. Release with
    ``util.release_cached`` after materializing.
    """
    # persist, not lineage_cut: postings are corpus-sized (one row per
    # doc-term) — the columnar cache scan beats a row-format LogicalRDD
    # at scale (r16 measured decision, see functions/ordered.py)
    postings = doc_term_freqs(docs, id_col, text_col).persist()
    n_docs = docs.select(
        F.count(F.lit(1)).cast("double").alias("__n"))
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if min_df > 1:
        dfreq = dfreq.filter(F.col("df") >= min_df)
    out = (
        postings.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf") * (F.log((F.col("__n") + 1.0) / (F.col("df") + 1.0)) + 1.0))
        .drop("__n")
    )
    return attach_cached(out.select(id_col, "term", "tf", "df", "tfidf"),
                         postings)


def top_terms(docs: DataFrame, k: int, id_col: str = "doc_id",
              text_col: str = "text", min_df: int = 1) -> DataFrame:
    """Top-``k`` TF-IDF terms per document (score desc, term asc tiebreak —
    total order, deterministic across engines). The ranking window partitions
    by document — postings per doc are bounded by doc length, so no
    single-task funnel at any corpus size."""
    from pyspark.sql.window import Window
    scored = tfidf_scores(docs, id_col, text_col, min_df=min_df)
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    out = (scored.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= k))
    return attach_cached(out, *getattr(scored, "_pps_cached", ()))


def build_vocab(
    docs: DataFrame,
    max_size: int | None = None,
    min_count: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Frequency vocabulary: ``(term, count, rank, cum_frac)`` ordered by
    count desc (term asc tiebreak — total order).

    ``rank`` is the 1-based total-order row rank over (count desc, term
    asc) — equal-count terms get DISTINCT consecutive ranks, ties broken by
    term; ``cum_frac`` the fraction
    of ALL corpus tokens covered by terms up to and including this rank —
    the curve a tokenizer-budget decision reads. ``max_size`` keeps the top
    ranks; ``min_count`` drops the long tail first.

    Scale shape: term counts are a vocabulary-sized frame (≪ corpus); the
    global ordering runs on the DISTRIBUTED ordered operators
    (``functions/ordered``: range partition + broadcast prefix offsets), so
    even a billion-term vocabulary never funnels through one task.
    """
    from ..functions.ordered import global_rank_cumsum

    toks = (
        ensure_parallelism(docs)
        .select(F.explode(tx.simple_tokens(text_col)).alias("term"))
    )
    # persisted: the vocabulary-sized counts feed BOTH the total-token
    # scalar and the ranking — without the pin the corpus explode+agg runs
    # twice (same no-ReusedExchange behavior as the tfidf postings)
    counts_all = lineage_cut(
        toks.groupBy("term").agg(F.count(F.lit(1)).alias("count")))
    total = counts_all.select(
        F.sum("count").cast("double").alias("__total"))
    counts = counts_all
    if min_count > 1:
        counts = counts_all.filter(F.col("count") >= min_count)

    order = [F.desc("count"), F.asc("term")]
    ranked = global_rank_cumsum(counts, order, "count",
                                rank_out="rank", cum_out="__cum")
    out = (
        ranked.crossJoin(F.broadcast(total))
        .withColumn("cum_frac", F.col("__cum") / F.col("__total"))
        .drop("__cum", "__total")
    )
    if max_size is not None:
        out = out.filter(F.col("rank") <= max_size)
    return attach_cached(out.select("term", "count", "rank", "cum_frac"),
                         counts_all, *getattr(ranked, "_pps_cached", ()))


def oov_rate(
    docs: DataFrame,
    vocab: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a vocab frame (any frame
    with a ``term`` column — typically :func:`build_vocab` output).

    Returns ``(id_col, n_tokens, n_oov, oov_frac)`` for every document
    (``oov_frac`` 0.0 for empty docs). Vocab is broadcast; the corpus
    explodes map-side and never shuffles except the final per-doc agg."""
    vocab_terms = vocab.select("term").distinct().withColumn("__in", F.lit(1))
    exploded = (
        ensure_parallelism(docs)
        .select(F.col(id_col), F.explode_outer(tx.simple_tokens(text_col)).alias("term"))
    )
    joined = exploded.join(F.broadcast(vocab_terms), "term", "left")
    out = joined.groupBy(id_col).agg(
        F.count("term").alias("n_tokens"),
        (F.count("term") - F.coalesce(F.sum("__in"), F.lit(0))).cast("long").alias("n_oov"),
    )
    return out.select(
        id_col, "n_tokens", "n_oov",
        F.when(F.col("n_tokens") > 0,
               F.col("n_oov").cast("double") / F.col("n_tokens"))
        .otherwise(F.lit(0.0)).alias("oov_frac"),
    )


def unigram_lm_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document cross-entropy and perplexity under the corpus's own MLE
    unigram language model — the classic cheap "does this read like the
    corpus?" quality signal (high perplexity = rare-token soup: boilerplate,
    code dumps, gibberish).

    ``H(D) = -(1/|D|) Σ_t ln p(t)`` with ``p(t) = count(t)/total``; since
    the model is trained on the scored corpus itself every token has
    count ≥ 1, so no smoothing term is needed (``ppl = exp(H)``).
    Returns ``(id_col, n_tokens, xent, ppl)``; empty documents get NULLs.

    Scale shape: token counts are a vocabulary-sized frame (persisted — it
    feeds both the total-token scalar and the per-token join) broadcast
    against the map-side token explode; the corpus shuffles once, on the
    final per-doc agg keyed by ``id_col``. At web scale a multi-GB
    vocabulary frame can outgrow broadcast — drop the hint and let AQE pick
    the join; the per-doc shape is unchanged. Algebraically
    ``H = ln(total) - mean(ln count(t))``, so the scalar joins once per
    doc, not per token.
    """
    # Tokenize ONCE: the regex pass is the expensive part and both the
    # count build and the per-doc join explode the same tokens. The token
    # frame is corpus-sized, so the pin is DISK_ONLY — a MEMORY_AND_DISK
    # corpus pin starves downstream hash aggregates' execution pool at
    # 100M-row scale (r7 sf100 finding), while the OS page cache makes
    # the disk round-trip nearly free at gate/bench SFs.
    toks_df = (
        ensure_parallelism(docs)
        .select(F.col(id_col), tx.simple_tokens(text_col).alias("__toks"))
        .persist(StorageLevel.DISK_ONLY)
    )
    exploded = toks_df.select(id_col, F.explode_outer("__toks").alias("term"))
    counts = lineage_cut(
        exploded.filter(F.col("term").isNotNull())
        .groupBy("term").agg(F.count(F.lit(1)).alias("count"))
    )
    total = counts.select(F.sum("count").cast("double").alias("__total"))
    per_doc = (
        exploded.join(F.broadcast(counts), "term", "left")
        .groupBy(id_col)
        .agg(F.count("term").alias("n_tokens"),
             F.avg(F.log(F.col("count").cast("double"))).alias("__mean_ln"))
    )
    out = (
        per_doc.crossJoin(F.broadcast(total))
        .withColumn("xent", F.when(F.col("n_tokens") > 0,
                                   F.log("__total") - F.col("__mean_ln")))
        .withColumn("ppl", F.exp("xent"))
        .select(id_col, "n_tokens", "xent", "ppl")
    )
    return attach_cached(out, counts, toks_df)


def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 of each document against a bag of query terms.

    ``score(D) = Σ_t idf(t) · tf(t,D)·(k1+1) / (tf(t,D) + k1·(1−b+b·|D|/avgdl))``
    with ``idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))``.

    Returns ``(id_col, n_terms, bm25)`` for every document (score 0.0 when
    no query term occurs).

    Two corpus-sized intermediates feed multiple plan branches, and Catalyst
    does not reuse exchanges across branches (the tfidf lesson), so both are
    persisted — but ONLY the slim shapes: ``doclens`` is (id, n_terms) — 16
    bytes/doc, never the tokenized text — and ``q_postings`` is already
    restricted to the query terms before its shuffle, so it holds ≤
    |docs|·|query| rows. Unpersisted, the r2 plan tokenized the corpus FOUR
    times (4 scans, 10 exchanges); this shape tokenizes twice (once for
    lengths, once for the filtered explode) and shuffles the corpus zero
    times. Release with ``util.release_cached`` after materializing.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    qset = sorted(set(query_terms))

    # persist, not lineage_cut: one row per doc — corpus-length (see
    # the postings note in tfidf above)
    doclens = (
        ensure_parallelism(docs)
        .select(F.col(id_col), tx.token_count(text_col).alias("n_terms"))
        .persist()
    )
    stats = doclens.select(
        F.count(F.lit(1)).cast("double").alias("__n"),
        F.avg("n_terms").alias("__avgdl"))

    # postings restricted to the query terms BEFORE the shuffle
    q_postings = (
        ensure_parallelism(docs)
        .select(F.col(id_col), F.explode(tx.simple_tokens(text_col)).alias("term"))
        .filter(F.col("term").isin(qset))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    q_postings = lineage_cut(q_postings)
    dfreq = q_postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    scored = (
        q_postings.join(F.broadcast(dfreq), "term")
        .join(doclens, id_col)
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "__idf",
            F.log(1.0 + (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5)))
        .withColumn(
            "__s",
            F.col("__idf") * F.col("tf") * (k1 + 1.0)
            / (F.col("tf")
               + k1 * (1.0 - b + b * F.col("n_terms") / F.col("__avgdl"))))
    )
    per_doc = scored.groupBy(id_col, "n_terms").agg(F.sum("__s").alias("bm25"))
    # docs with no query-term occurrence: left-join back, score 0
    out = (
        doclens
        .join(per_doc, [id_col, "n_terms"], "left")
        .withColumn("bm25", F.coalesce(F.col("bm25"), F.lit(0.0)))
    )
    return attach_cached(out, doclens, q_postings)


def bigram_lm_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lam: float = 0.8,
) -> DataFrame:
    """Per-document cross-entropy and perplexity under a Jelinek-Mercer
    interpolated bigram LM trained on the scored corpus itself — the
    next step up from :func:`unigram_lm_score` as a fluency/quality signal
    (a bigram model punishes scrambled or boilerplate-stitched text that a
    unigram model scores as perfectly normal):

        p(w_i | w_{i-1}) = lam · c(w_{i-1} w_i)/c(w_{i-1})
                         + (1 − lam) · c(w_i)/total
        H(D) = −(1/(|D|−1)) Σ_{i≥1} ln p(w_i | w_{i-1});   ppl = exp(H)

    Both mixture components are corpus-MLE, so every observed bigram and
    unigram has count ≥ 1 and p > 0 — no further smoothing needed.
    Returns ``(id_col, n_bigrams, xent, ppl)`` for every document;
    documents with < 2 tokens get n_bigrams 0 and NULL xent/ppl.

    Scale shape: one vocabulary-sized count frame over unigrams ∪ bigrams
    (one explode + partial/final agg, persisted) plus a scalar total.
    The probability model assembles entirely at VOCABULARY grain — the
    unigram-count joins and the interpolation arithmetic land on the
    bigram-vocab frame (V rows), producing one (gram → ln p) lookup — so
    the corpus-sized exploded pass takes exactly ONE broadcast join plus
    the shuffle keyed on ``id_col`` for the per-doc mean. At web scale the
    bigram vocabulary can outgrow broadcast — drop the hints and AQE falls
    back to a shuffled join; the per-doc shape is unchanged. Release the
    persisted count frame with ``util.release_cached``.
    """
    # Tokenize ONCE (DISK_ONLY pin — same reasoning as unigram_lm_score:
    # the regex pass dominates, two consumers (the fused count and the
    # scoring rows) explode the same tokens, and a corpus-sized MEMORY
    # pin starves executors at sf100).
    toks_df = (
        ensure_parallelism(docs)
        .select(F.col(id_col), tx.simple_tokens(text_col).alias("__toks"))
        .persist(StorageLevel.DISK_ONLY)
    )

    # ONE corpus explode counts BOTH vocabularies (r10: the unigram and
    # bigram count passes each read the token pin and exploded the corpus
    # separately — fusing them into one explode over tokens ∪ bigrams
    # removes a full corpus-sized stage; the two vocabularies separate at
    # VOCAB grain by the joiner space, which whitespace tokens cannot
    # contain). The combined count frame is persisted: three consumers
    # (unigram side, bigram side, scalar total), and the eager
    # materialization feeds AQE exact stats for the model join (the r9
    # measured finding that dropping the counts persist REGRESSED run0).
    counts = lineage_cut(
        toks_df.select(F.explode(
            F.concat(F.col("__toks"),
                     tx.word_ngrams(F.col("__toks"), 2))).alias("gram"))
        .groupBy("gram").agg(F.count(F.lit(1)).alias("cnt")))
    uni = counts.filter(~F.col("gram").contains(" ")).select(
        F.col("gram").alias("term"), F.col("cnt").alias("ucnt"))
    bi_counts = counts.filter(F.col("gram").contains(" ")).select(
        "gram", F.col("cnt").alias("bcnt"))
    total = uni.select(F.sum("ucnt").cast("double").alias("__total"))

    # Scoring rows = bigrams PLUS one sentinel row ('' — never a token,
    # tokens are non-empty and bigrams contain the space joiner) per doc
    # (r11): every document emits at least one row, so the per-doc
    # aggregate below covers ALL docs directly and the former final
    # left-join back to the id list (a whole extra corpus-pin read +
    # join stage) disappears. Same-boot 4-round A/B at sf1: median
    # 1.61 s vs 1.96 s, first run 1.51 vs 1.56 (BASELINE.md r11).
    sentinel = F.array(F.lit(""))
    bi_rows = toks_df.select(
        F.col(id_col),
        F.explode(F.concat(sentinel, F.coalesce(
            tx.word_ngrams(F.col("__toks"), 2),
            F.array().cast("array<string>")))).alias("gram"))

    # whitespace tokens cannot contain the joiner — split is exact
    lam = float(lam)
    uprev = uni.select(F.col("term").alias("__prev"), F.col("ucnt").alias("pcnt"))
    ucur = uni.select(F.col("term").alias("__cur"), F.col("ucnt").alias("ccnt"))
    p = (F.lit(lam) * (F.col("bcnt").cast("double") / F.col("pcnt"))
         + F.lit(1.0 - lam) * (F.col("ccnt").cast("double") / F.col("__total")))
    gram_model = (
        bi_counts
        .withColumn("__parts", F.split("gram", " "))
        .select("gram", "bcnt",
                F.col("__parts")[0].alias("__prev"),
                F.col("__parts")[1].alias("__cur"))
        .join(F.broadcast(uprev), "__prev")
        .join(F.broadcast(ucur), "__cur")
        .crossJoin(F.broadcast(total))
        .select("gram", F.log(p).alias("__lnp"))
    )
    # LEFT join: every observed bigram matches the model (trained on the
    # same corpus), only the sentinel rows miss — count(__lnp) is the
    # exact bigram count and avg skips the sentinel's NULL.
    joined = bi_rows.join(F.broadcast(gram_model), "gram", "left")
    agged = joined.groupBy(id_col).agg(
        F.count("__lnp").cast("long").alias("n_bigrams"),
        F.avg("__lnp").alias("__mlnp"))
    out = (
        agged
        .select(
            id_col,
            "n_bigrams",
            F.when(F.col("n_bigrams") > 0, -F.col("__mlnp")).alias("xent"),
            F.when(F.col("n_bigrams") > 0, F.exp(-F.col("__mlnp"))).alias("ppl"),
        )
    )
    return attach_cached(out, counts, toks_df)
