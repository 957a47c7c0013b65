"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` exercises an operator of pandas_plus_spark (the
engine surface mapped from eoincondron/pandas-plus in SURVEY.md §2, plus the
training-data-pipeline operators). ``oracle_sql()`` carries the DuckDB
equivalent; keys missing there are non-SQL-expressible (hash-seeded LSH)
and get the driver's rows-only check.

Column names are aliased identically on both sides; float-valued results rely
on the driver's tolerance/rounding protocol (BASELINE.md).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandas_plus_spark import GroupBy, crosstab, nanops
from pandas_plus_spark.functions.binning import pretty_cut
from pandas_plus_spark.functions.encoding import bools_to_categorical, linear_combination
from pandas_plus_spark.functions import ordered
from pandas_plus_spark.functions import text as tx
from pandas_plus_spark.operators import (classify, cleaning, corpus, dedup,
                                         joins, multimodal, packing, ranking,
                                         sampling, similarity)
from pandas_plus_spark.plotting import binned_scatter_stats
from pandas_plus_spark.sources import load_table
from pandas_plus_spark.util import attach_cached, ensure_parallelism

SF0001 = "/root/testdata/sf0.001"

# DuckDB-side shared SQL fragments ------------------------------------- #

_TOKS = "list_filter(string_split(text, ' '), t -> t <> '')"


def _sql_trigrams(toks: str) -> str:
    return (
        f"CASE WHEN len({toks}) >= 3 THEN "
        f"list_transform(range(1, len({toks}) - 1), "
        f"i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2]) "
        f"ELSE [] END"
    )


def _sql_ngrams(toks: str, n: int) -> str:
    """Space-joined word n-grams over a DuckDB token list (the SQL twin of
    functions/text.word_ngrams)."""
    parts = " || ' ' || ".join(f"{toks}[i+{j}]" for j in range(n))
    return (f"CASE WHEN len({toks}) >= {n} THEN "
            f"list_transform(range(1, len({toks}) - {n - 2}), i -> {parts}) "
            f"ELSE [] END")


def _sql_minhash_poly_ctes(num_hashes: int = 8, bands: int = 4,
                           threshold: float = 0.3) -> str:
    """Shared CTE chain replicating minhash_dedup(hash_fn="poly") in DuckDB:
    same shingles, same poly base hash, same affine families mod 2^31−1,
    same band fold, same candidate join and Jaccard verify. Ends with ``vp``
    = the confirmed near-dup pairs among exact-collapse representatives."""
    P = 2_147_483_647
    M, MUL = tx.POLY_MOD, tx.POLY_MUL
    poly_s = tx.sql_poly_hash("s")
    sig_exprs = []
    for i in range(num_hashes):
        a, b = 2 * i + 1, (0x9E3779B9 * (i + 1)) % P
        sig_exprs.append(
            f"list_min(list_transform(h, x0 -> ((x0 % {P}) * {a} + {b}) % {P}))")
    rpb = num_hashes // bands
    entries = []
    for bd in range(bands):
        acc = "CAST(0 AS BIGINT)"
        for r in range(rpb):
            acc = f"(({acc}) * {MUL} + sig[{bd * rpb + r + 1}]) % {M}"
        entries.append(f"SELECT id, {bd} AS band, {acc} AS bhash FROM sigs")
    entries_sql = " UNION ALL ".join(entries)
    return f"""
        reps AS (SELECT min(doc_id) AS id, text FROM documents GROUP BY text),
        tk AS (SELECT id, {_TOKS} AS toks FROM reps),
        grams AS (SELECT id, list_distinct({_sql_trigrams('toks')}) AS g FROM tk),
        hs AS (SELECT id, g, list_transform(g, s -> {poly_s}) AS h FROM grams),
        sigs AS (SELECT id, g, [{', '.join(sig_exprs)}] AS sig FROM hs),
        entries AS ({entries_sql}),
        cands AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM entries a JOIN entries b USING (band, bhash)
            WHERE a.id < b.id
        ),
        vp AS (
            SELECT id_a, id_b, jaccard FROM (
                SELECT id_a, id_b,
                       CASE WHEN len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)) > 0
                            THEN CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE)
                                 / (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)))
                            ELSE 0.0 END AS jaccard
                FROM cands
                JOIN grams ga ON ga.id = cands.id_a
                JOIN grams gb ON gb.id = cands.id_b
            ) WHERE jaccard >= {threshold}
        )"""


def _sql_minhash_poly(num_hashes: int = 8, bands: int = 4,
                      threshold: float = 0.3) -> str:
    """Full value-level check of the LSH pipeline (the xxhash64 production
    variant stays rows-only)."""
    return (f"WITH {_sql_minhash_poly_ctes(num_hashes, bands, threshold)}\n"
            f"SELECT id_a, id_b, jaccard FROM vp")


def _sql_keep_list_poly(num_hashes: int = 8, bands: int = 4,
                        threshold: float = 0.3) -> str:
    """DuckDB twin of dedup_keep_list(hash_fn="poly"): the minhash pair CTEs
    plus a recursive transitive closure — cluster id = min reachable id —
    and keep = representative ∧ (singleton ∨ cluster minimum)."""
    return f"""
        WITH RECURSIVE {_sql_minhash_poly_ctes(num_hashes, bands, threshold)},
        e AS (
            SELECT id_a AS src, id_b AS dst FROM vp
            UNION SELECT id_b AS src, id_a AS dst FROM vp
        ),
        reach(src, dst) AS (
            SELECT src, src FROM e
            UNION
            SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
        ),
        cl AS (SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src),
        rk AS (
            SELECT reps.id,
                   COALESCE(cl.cluster_id = reps.id, TRUE) AS keep
            FROM reps LEFT JOIN cl ON cl.id = reps.id
        )
        SELECT d.doc_id AS id, COALESCE(rk.keep, FALSE) AS keep
        FROM documents d LEFT JOIN rk ON rk.id = d.doc_id
    """


def _sql_dup_clusters(threshold: float = 0.2) -> str:
    """Recursive-CTE connected components over the exact trigram-Jaccard
    graph (no hashing involved — pins dup_clusters' label propagation)."""
    return f"""
        WITH RECURSIVE t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        g AS (SELECT doc_id, list_distinct({_sql_trigrams('toks')}) AS grams FROM t),
        p AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM g a, g b
            WHERE a.doc_id < b.doc_id
              AND len(list_intersect(a.grams, b.grams))::DOUBLE
                    / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
                    >= {threshold}
        ),
        e AS (
            SELECT id_a AS src, id_b AS dst FROM p
            UNION SELECT id_b AS src, id_a AS dst FROM p
        ),
        reach(src, dst) AS (
            SELECT src, src FROM e
            UNION
            SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
        )
        SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src
    """


def _sql_leakage_split(threshold: float = 0.2) -> str:
    """leakage_safe_split twin: the _sql_dup_clusters recursive closure
    plus the affine split CASE over the cluster representative
    (COALESCE(cluster_id, doc_id))."""
    split_rep = sampling.sql_split_assign(
        "COALESCE(cl.cluster_id, d.doc_id)",
        {"train": 8.0, "valid": 1.0, "test": 1.0}, seed=3)
    return f"""
        WITH RECURSIVE t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        g AS (SELECT doc_id, list_distinct({_sql_trigrams('toks')}) AS grams FROM t),
        p AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM g a, g b
            WHERE a.doc_id < b.doc_id
              AND len(list_intersect(a.grams, b.grams))::DOUBLE
                    / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
                    >= {threshold}
        ),
        e AS (
            SELECT id_a AS src, id_b AS dst FROM p
            UNION SELECT id_b AS src, id_a AS dst FROM p
        ),
        reach(src, dst) AS (
            SELECT src, src FROM e
            UNION
            SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
        ),
        cl AS (SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src)
        SELECT d.doc_id, {split_rep} AS split
        FROM documents d LEFT JOIN cl ON cl.id = d.doc_id
    """


def _sql_leakage_split_lsh(num_hashes: int = 8, bands: int = 4,
                           threshold: float = 0.3) -> str:
    """leakage_split_lsh twin: the poly-minhash pair CTEs (pairs between
    exact-collapse representatives) UNION the exact-copy edges (rep ↔
    duplicate), recursive closure, then the affine split CASE over the
    cluster representative — the production leakage guarantee: no near-dup
    OR exact copy of an eval document lands in train."""
    split_rep = sampling.sql_split_assign(
        "COALESCE(cl.cluster_id, d.doc_id)",
        {"train": 8.0, "valid": 1.0, "test": 1.0}, seed=3)
    return f"""
        WITH RECURSIVE {_sql_minhash_poly_ctes(num_hashes, bands, threshold)},
        kp AS (SELECT text, min(doc_id) AS keep_id FROM documents GROUP BY text),
        xe AS (
            SELECT kp.keep_id AS id_a, d.doc_id AS id_b
            FROM documents d JOIN kp ON kp.text = d.text
            WHERE d.doc_id <> kp.keep_id
        ),
        pe AS (
            SELECT id_a, id_b FROM vp
            UNION SELECT id_a, id_b FROM xe
        ),
        e AS (
            SELECT id_a AS src, id_b AS dst FROM pe
            UNION SELECT id_b AS src, id_a AS dst FROM pe
        ),
        reach(src, dst) AS (
            SELECT src, src FROM e
            UNION
            SELECT r.src, e2.dst FROM reach r JOIN e e2 ON r.dst = e2.src
        ),
        cl AS (SELECT src AS id, min(dst) AS cluster_id FROM reach GROUP BY src)
        SELECT d.doc_id, {split_rep} AS split
        FROM documents d LEFT JOIN cl ON cl.id = d.doc_id
    """


def _spans_ctes(k: int = 6, min_df: int = 2) -> str:
    """Shared CTE chain for the duplicated-span twins: per-token poly
    hashes, positional k-gram fold, cross-doc distinct count, per-doc
    gap-merge — ends with a ``spans(doc_id, span_start, span_end,
    n_grams)`` CTE."""
    MUL, MOD = tx.POLY_MUL, tx.POLY_MOD
    th = (
        "list_transform(list_filter(string_split(text, ' '), t -> t <> ''), "
        "t -> list_reduce(list_prepend(CAST(0 AS BIGINT), "
        "list_transform(range(1, length(t)+1), "
        "i -> CAST(ascii(substr(t, CAST(i AS INT), 1)) AS BIGINT))), "
        f"(acc, x) -> (acc*{MUL} + x) % {MOD}))")
    return f"""
        th AS (SELECT doc_id, {th} AS h FROM documents),
        g AS (SELECT doc_id, CAST(i-1 AS BIGINT) AS pos,
                list_reduce(
                    list_prepend(CAST(0 AS BIGINT),
                                 h[CAST(i AS BIGINT):CAST(i+{k}-1 AS BIGINT)]),
                    (acc, x) -> (acc*{MUL} + x) % {MOD}) AS ghash
              FROM th, unnest(range(1, len(h)-{k}+2)) AS t(i)),
        rep AS (SELECT ghash FROM g GROUP BY ghash
                HAVING count(DISTINCT doc_id) >= {min_df}),
        hits AS (SELECT doc_id, pos FROM g
                 WHERE ghash IN (SELECT ghash FROM rep)),
        lagged AS (SELECT doc_id, pos,
            CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {k}
                 OR lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                 THEN 1 ELSE 0 END AS brk
          FROM hits),
        lbl AS (SELECT doc_id, pos,
                       sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS UNBOUNDED PRECEDING) AS l
                FROM lagged),
        spans AS (SELECT doc_id, min(pos) AS span_start,
                         max(pos)+{k} AS span_end, count(*) AS n_grams
                  FROM lbl GROUP BY doc_id, l)
    """


def _sql_duplicated_spans(k: int = 6, min_df: int = 2) -> str:
    """DuckDB twin of duplicated_spans(hash_fn="poly")."""
    return f"""
        WITH {_spans_ctes(k, min_df)}
        SELECT doc_id, span_start, span_end, n_grams FROM spans
    """


def _sql_span_excision(k: int = 6, min_df: int = 2) -> str:
    """DuckDB twin of duplicated_spans → excise_spans composed: flagged
    docs get their duplicated token spans cut out (indexed-lambda filter
    over the token list, 1-based i → 0-based pos), unflagged docs pass
    their raw text through unchanged."""
    return f"""
        WITH {_spans_ctes(k, min_df)},
        sp AS (SELECT doc_id,
                      list(struct_pack(s := span_start, e := span_end)) AS ss
               FROM spans GROUP BY doc_id),
        tk AS (SELECT doc_id, text,
                      list_filter(string_split(text, ' '), t -> t <> '') AS toks
               FROM documents)
        SELECT tk.doc_id,
               CASE WHEN sp.doc_id IS NULL THEN tk.text
                    -- array_to_string([]) is NULL in DuckDB; Spark's
                    -- concat_ws over an empty array is '' — align them
                    ELSE COALESCE(array_to_string(
                        list_filter(toks, (t, i) ->
                            len(list_filter(ss, r ->
                                i-1 >= r.s AND i-1 < r.e)) = 0), ' '), '')
               END AS clean_text,
               CASE WHEN sp.doc_id IS NULL THEN 0
                    ELSE len(list_filter(toks, (t, i) ->
                        len(list_filter(ss, r ->
                            i-1 >= r.s AND i-1 < r.e)) > 0))
               END AS n_removed
        FROM tk LEFT JOIN sp ON tk.doc_id = sp.doc_id
    """


def _sql_incremental_dedup(num_hashes: int = 8, bands: int = 4,
                           threshold: float = 0.3) -> str:
    """DuckDB twin of incremental_dedup(hash_fn="poly") on the %5 new/ref
    split: exact text-match first, then the poly minhash band join
    restricted to new x ref, Jaccard verify, best match per new doc."""
    P = 2_147_483_647
    M, MUL = tx.POLY_MOD, tx.POLY_MUL
    poly_s = tx.sql_poly_hash("s")
    sig_exprs = []
    for i in range(num_hashes):
        a, b = 2 * i + 1, (0x9E3779B9 * (i + 1)) % P
        sig_exprs.append(
            f"list_min(list_transform(h, x0 -> ((x0 % {P}) * {a} + {b}) % {P}))")
    rpb = num_hashes // bands
    entries = []
    for bd in range(bands):
        acc = "CAST(0 AS BIGINT)"
        for r in range(rpb):
            acc = f"(({acc}) * {MUL} + sig[{bd * rpb + r + 1}]) % {M}"
        entries.append(
            f"SELECT id, is_new, {bd} AS band, {acc} AS bhash FROM sigs")
    entries_sql = " UNION ALL ".join(entries)
    jac = ("CASE WHEN len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g)) > 0 "
           "THEN CAST(len(list_intersect(ga.g, gb.g)) AS DOUBLE) "
           "/ (len(ga.g) + len(gb.g) - len(list_intersect(ga.g, gb.g))) "
           "ELSE 0.0 END")
    return f"""
        WITH newd AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0),
        refd AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
        exact AS (
            SELECT n.doc_id AS id, min(r.doc_id) AS ref_id
            FROM newd n JOIN refd r ON n.text = r.text GROUP BY n.doc_id
        ),
        rem AS (SELECT * FROM newd WHERE doc_id NOT IN (SELECT id FROM exact)),
        u AS (SELECT doc_id AS id, text, TRUE AS is_new FROM rem
              UNION ALL SELECT doc_id AS id, text, FALSE AS is_new FROM refd),
        tk AS (SELECT id, is_new, {_TOKS} AS toks FROM u),
        grams AS (SELECT id, is_new,
                         list_distinct({_sql_trigrams('toks')}) AS g FROM tk),
        hs AS (SELECT id, is_new, g,
                      list_transform(g, s -> {poly_s}) AS h FROM grams),
        sigs AS (SELECT id, is_new, [{', '.join(sig_exprs)}] AS sig FROM hs),
        entries AS ({entries_sql}),
        cands AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM entries a JOIN entries b USING (band, bhash)
            WHERE a.is_new AND NOT b.is_new
        ),
        vp AS (
            SELECT id_a, id_b, jaccard FROM (
                SELECT id_a, id_b, {jac} AS jaccard
                FROM cands
                JOIN grams ga ON ga.id = cands.id_a
                JOIN grams gb ON gb.id = cands.id_b
            ) WHERE jaccard >= {threshold}
        ),
        best AS (
            SELECT id_a AS id, id_b AS ref_id, jaccard,
                   row_number() OVER (PARTITION BY id_a
                                      ORDER BY jaccard DESC, id_b ASC) AS rn
            FROM vp
        )
        SELECT id AS doc_id, 'exact' AS match_kind, ref_id, 1.0 AS jaccard
        FROM exact
        UNION ALL
        SELECT id AS doc_id, 'near' AS match_kind, ref_id, jaccard
        FROM best WHERE rn = 1
    """


def _sql_pagerank_unrolled(n_iters: int = 3) -> str:
    """DuckDB twin of _q_link_graph_rank: the exact_mass integer
    PageRank recurrence unrolled (one contribution/dangling/update CTE
    trio per iteration — same floor divisions, same 85/100 damping)
    plus the degree joins."""
    mass = 10 ** 12
    base = mass - mass * 85 // 100
    ctes = [f"""
        e AS (
            SELECT DISTINCT src, dst FROM (
                SELECT doc_id AS src, (doc_id * 7 + 3) % 500 AS dst
                FROM documents WHERE doc_id < 500 AND doc_id % 17 <> 0
                UNION ALL
                SELECT doc_id, (doc_id * 13 + 5) % 500
                FROM documents
                WHERE doc_id < 500 AND doc_id % 17 <> 0
                  AND doc_id % 3 <> 0)
        ), nodes AS (
            SELECT DISTINCT node FROM (
                SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
        ), prm AS (SELECT COUNT(*) AS n FROM nodes),
        outd AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
        ind AS (SELECT dst, COUNT(*) AS idg FROM e GROUP BY dst),
        r0 AS (SELECT node, CAST({mass} // n AS BIGINT) AS m
               FROM nodes, prm)"""]
    for i in range(n_iters):
        ctes.append(f"""
        c{i} AS (
            SELECT e.dst AS node, SUM(r.m // o.od) AS cm
            FROM e JOIN r{i} r ON r.node = e.src
                   JOIN outd o ON o.src = e.src
            GROUP BY e.dst),
        g{i} AS (
            SELECT COALESCE(SUM(m), 0) AS dang FROM r{i}
            WHERE node NOT IN (SELECT src FROM outd)),
        r{i + 1} AS (
            SELECT nodes.node,
                   {base} // n
                   + (COALESCE(c.cm, 0) + dang // n) * 85 // 100 AS m
            FROM nodes CROSS JOIN prm CROSS JOIN g{i}
            LEFT JOIN c{i} c ON c.node = nodes.node)""")
    return ("WITH " + ",".join(ctes) + f"""
        SELECT r.node, CAST(r.m AS BIGINT) AS mass,
               CAST(COALESCE(o.od, 0) AS BIGINT) AS out_degree,
               CAST(COALESCE(i.idg, 0) AS BIGINT) AS in_degree
        FROM r{n_iters} r
        LEFT JOIN outd o ON o.src = r.node
        LEFT JOIN ind i ON i.dst = r.node
    """)


def _sql_ppr_unrolled(n_iters: int = 3) -> str:
    """DuckDB twin of _q_personalized_pagerank: the exact_mass
    PERSONALIZED recurrence unrolled over the link_graph_rank fixture
    graph with seeds doc_id % 50 == 0 (weight 1 + doc_id % 3). Same
    floor divisions, same 85/100 damping, and the same H = 10**6
    split identity for tele·dang // MASS (graph._personalized_pagerank
    docstring) — a teleport, dangling-share, or damping bug changes a
    mass and fails the hash."""
    mass, H = 10 ** 12, 10 ** 6
    share = (f"((t.t // {H}) * dang) // {H}"
             f" + ((((t.t // {H}) * dang) % {H}) * {H}"
             f" + (t.t % {H}) * dang) // {mass}")
    ctes = [f"""
        e AS (
            SELECT DISTINCT src, dst FROM (
                SELECT doc_id AS src, (doc_id * 7 + 3) % 500 AS dst
                FROM documents WHERE doc_id < 500 AND doc_id % 17 <> 0
                UNION ALL
                SELECT doc_id, (doc_id * 13 + 5) % 500
                FROM documents
                WHERE doc_id < 500 AND doc_id % 17 <> 0
                  AND doc_id % 3 <> 0)
        ), nodes AS (
            SELECT DISTINCT node FROM (
                SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
        ), seeds AS (
            SELECT doc_id AS node, CAST(1 + doc_id % 3 AS BIGINT) AS w
            FROM documents WHERE doc_id < 500 AND doc_id % 50 = 0
        ), wt AS (
            SELECT SUM(s.w) AS wtot FROM seeds s
            JOIN nodes n ON n.node = s.node
        ), outd AS (SELECT src, COUNT(*) AS od FROM e GROUP BY src),
        tele AS (
            SELECT n.node, CAST({mass} * COALESCE(s.w, 0) // wt.wtot
                                AS BIGINT) AS t
            FROM nodes n CROSS JOIN wt
            LEFT JOIN seeds s ON s.node = n.node
        ), r0 AS (SELECT node, t AS m FROM tele)"""]
    for i in range(n_iters):
        ctes.append(f"""
        c{i} AS (
            SELECT e.dst AS node, SUM(r.m // o.od) AS cm
            FROM e JOIN r{i} r ON r.node = e.src
                   JOIN outd o ON o.src = e.src
            GROUP BY e.dst),
        g{i} AS (
            SELECT COALESCE(SUM(m), 0) AS dang FROM r{i}
            WHERE node NOT IN (SELECT src FROM outd)),
        r{i + 1} AS (
            SELECT t.node,
                   t.t * 15 // 100
                   + (COALESCE(c.cm, 0) + {share}) * 85 // 100 AS m
            FROM tele t CROSS JOIN g{i}
            LEFT JOIN c{i} c ON c.node = t.node)""")
    return ("WITH " + ",".join(ctes) + f"""
        SELECT node, CAST(m AS BIGINT) AS mass FROM r{n_iters}
    """)


def _sql_wpr_unrolled(n_iters: int = 3) -> str:
    """DuckDB twin of _q_weighted_pagerank: the exact_mass WEIGHTED
    recurrence unrolled over the link_graph_rank fixture graph with
    edge weight 1 + (src + dst) % 4 — duplicate (src, dst) edges SUM
    weights (the d=83 duplicate carries 2·w), the per-edge share is
    ``m·w // W_out`` with the floor division INSIDE the sum, exactly
    as the engine computes it."""
    mass = 10 ** 12
    base = mass - mass * 85 // 100
    ctes = [f"""
        raw AS (
            SELECT doc_id AS src, (doc_id * 7 + 3) % 500 AS dst
            FROM documents WHERE doc_id < 500 AND doc_id % 17 <> 0
            UNION ALL
            SELECT doc_id, (doc_id * 13 + 5) % 500
            FROM documents
            WHERE doc_id < 500 AND doc_id % 17 <> 0 AND doc_id % 3 <> 0
        ), e AS (
            SELECT src, dst, SUM(1 + (src + dst) % 4) AS w
            FROM raw GROUP BY src, dst
        ), nodes AS (
            SELECT DISTINCT node FROM (
                SELECT src AS node FROM e UNION ALL SELECT dst FROM e)
        ), prm AS (SELECT COUNT(*) AS n FROM nodes),
        outd AS (SELECT src, SUM(w) AS od FROM e GROUP BY src),
        r0 AS (SELECT node, CAST({mass} // n AS BIGINT) AS m
               FROM nodes, prm)"""]
    for i in range(n_iters):
        ctes.append(f"""
        c{i} AS (
            SELECT e.dst AS node, SUM(r.m * e.w // o.od) AS cm
            FROM e JOIN r{i} r ON r.node = e.src
                   JOIN outd o ON o.src = e.src
            GROUP BY e.dst),
        g{i} AS (
            SELECT COALESCE(SUM(m), 0) AS dang FROM r{i}
            WHERE node NOT IN (SELECT src FROM outd)),
        r{i + 1} AS (
            SELECT nodes.node,
                   {base} // n
                   + (COALESCE(c.cm, 0) + dang // n) * 85 // 100 AS m
            FROM nodes CROSS JOIN prm CROSS JOIN g{i}
            LEFT JOIN c{i} c ON c.node = nodes.node)""")
    return ("WITH " + ",".join(ctes) + f"""
        SELECT node, CAST(m AS BIGINT) AS mass FROM r{n_iters}
    """)


def _sql_simhash_poly(bits: int = 24) -> str:
    """DuckDB twin of simhash(hash_fn="poly", bits<=30)."""
    poly_t = tx.sql_poly_hash("t")
    bit_terms = []
    for j in range(bits):
        votes = (
            f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"list_transform(th, h -> CASE WHEN ((h >> {j}) & 1) = 1 "
            f"THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)), "
            f"(a, x) -> a + x)")
        bit_terms.append(
            f"CASE WHEN {votes} > 0 THEN CAST({2 ** j} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
    total = " + ".join(bit_terms)
    return f"""
        WITH tk AS (SELECT doc_id AS id, list_distinct({_TOKS}) AS tkl FROM documents),
        hs AS (SELECT id, list_transform(tkl, t -> {poly_t}) AS th FROM tk)
        SELECT id, CAST({total} AS BIGINT) AS simhash FROM hs
    """


def _sql_semantic_lsh_ctes(n_planes: int = 3, n_tables: int = 12,
                           threshold: float = 0.30) -> str:
    """Shared CTEs of the poly-family hyperplane-LSH oracle: normalized
    vectors -> per-(table, vector) sign buckets (the EXACT integer/double
    arithmetic of similarity.hyperplane_lsh_buckets(hash_fn='poly') —
    sql_hyperplane_poly_coeff is the single source of the coefficient
    formula) -> distinct candidate pairs via the bucket self-join ->
    cosine-verified pairs ``vp``."""
    terms = []
    for p in range(n_planes):
        coeff = similarity.sql_hyperplane_poly_coeff("tb.tbl", p, "i - 1")
        proj = (f"list_reduce(list_prepend(0.0, "
                f"list_transform(range(1, len(v) + 1), "
                f"i -> v[i] * {coeff})), (acc, x) -> acc + x)")
        terms.append(f"CASE WHEN ({proj}) >= 0 THEN {2 ** p} ELSE 0 END")
    bucket = " + ".join(terms)
    return f"""e0 AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        FROM embeddings
    ), nv AS (
        SELECT vec_id, v,
               sqrt(list_reduce(list_prepend(0.0,
                    list_transform(v, x -> x * x)), (a, x) -> a + x)) AS nrm
        FROM e0
    ), tb AS (SELECT unnest(range(0, {n_tables})) AS tbl),
    bk AS (
        SELECT e0.vec_id, tb.tbl, {bucket} AS bucket FROM e0, tb
    ), cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket
        WHERE a.vec_id < b.vec_id
    ), vp AS (
        SELECT c.id_a, c.id_b
        FROM cand c
        JOIN nv a ON a.vec_id = c.id_a
        JOIN nv b ON b.vec_id = c.id_b
        WHERE list_reduce(list_prepend(0.0,
                list_transform(range(1, len(a.v) + 1), i -> a.v[i] * b.v[i])),
                (acc, x) -> acc + x) / (a.nrm * b.nrm) >= {threshold}
    )"""


def _sql_lsh_skew_ctes(n_planes: int = 3, n_tables: int = 2) -> str:
    """CTEs for the Zipfian-bucket LSH skew oracle: the same poly bucket
    arithmetic as _sql_semantic_lsh_ctes but over the MODIFIED corpus
    (vec_id % 5 == 0 collapsed onto the all-ones direction) and without
    the cosine-verify stage — the skew pair gates candidate GENERATION."""
    terms = []
    for p in range(n_planes):
        coeff = similarity.sql_hyperplane_poly_coeff("tb.tbl", p, "i - 1")
        proj = (f"list_reduce(list_prepend(0.0, "
                f"list_transform(range(1, len(v) + 1), "
                f"i -> v[i] * {coeff})), (acc, x) -> acc + x)")
        terms.append(f"CASE WHEN ({proj}) >= 0 THEN {2 ** p} ELSE 0 END")
    bucket = " + ".join(terms)
    return f"""e0 AS (
        SELECT vec_id,
               CASE WHEN vec_id % 5 = 0
                    THEN list_transform(embedding, x -> 1.0)
                    ELSE list_transform(embedding, x -> CAST(x AS DOUBLE))
               END AS v
        FROM embeddings
    ), tb AS (SELECT unnest(range(0, {n_tables})) AS tbl),
    bk AS (SELECT e0.vec_id, tb.tbl, {bucket} AS bucket FROM e0, tb),
    cand AS (
        SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
        FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket
        WHERE a.vec_id < b.vec_id
    )"""


def _sql_lang_scores() -> tuple[str, str]:
    """(CTE column defs, CASE expression) replicating functions.text.lang_id."""
    defs = []
    for lang, words in tx.LANG_MARKERS.items():
        lst = ", ".join(f"'{w}'" for w in words)
        defs.append(f"len(list_filter(toks, t -> t IN ({lst}))) AS s_{lang}")
    langs = list(tx.LANG_MARKERS)
    total = " + ".join(f"s_{l}" for l in langs)
    branches = [f"WHEN {total} = 0 THEN 'und'"]
    for i, lang in enumerate(langs):
        conds = [f"s_{lang} >= s_{o}" for o in langs[i + 1:]]
        conds += [f"s_{lang} > s_{p}" for p in langs[:i]]
        cond = " AND ".join(conds) if conds else "TRUE"
        branches.append(f"WHEN {cond} THEN '{lang}'")
    return ", ".join(defs), "CASE " + " ".join(branches) + " END"


# ---------------------------------------------------------------------- #
# entry — flagship smoke query
# ---------------------------------------------------------------------- #

def entry(spark: SparkSession) -> DataFrame:
    """TPC-H-Q1-style pricing summary through the GroupBy engine at sf0.001."""
    return _q_q1_pricing_summary(spark, SF0001)


# ---------------------------------------------------------------------- #
# query implementations (spark, sf_dir) -> DataFrame
# ---------------------------------------------------------------------- #

def _q_q1_pricing_summary(spark, sf):
    """TPC-H Q1 shape. The price sums need order-independent accumulation
    (float addition order flips the last rounded digit across partition
    schedules — hash-stability, VERDICT r1 §wrong.1); since r4 they use the
    hierarchical exact pattern: a deterministic row-hash salt bounds the
    fine level's group size, scaled-LONG accumulation does the fact-sized
    work, and the salt-count-sized coarse level finishes in exact decimal
    (~40% cheaper than decimal buffers on the fact level; overflow envelope
    documented at core.dsum_scaled). Means decompose through the two levels
    as sum/count; quantity sums are integral-valued doubles (exact at any
    order) so they stay plain sums."""
    li = load_table(spark, sf, "lineitem").withColumn(
        "disc_price", F.col("l_extendedprice") * (1 - F.col("l_discount")))
    salt = F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(256))
    per = GroupBy(li.withColumn("__salt", salt),
                  ["l_returnflag", "l_linestatus", "__salt"]).agg({
        "q": ("sum", "l_quantity"),
        "bp": ("dsum_scaled", "l_extendedprice"),
        "dp": ("dsum_scaled", "disc_price"),
        "p": ("sum", "l_extendedprice"),
        "d": ("sum", "l_discount"),
        "n": ("size", ""),
    })
    out = GroupBy(per, ["l_returnflag", "l_linestatus"]).agg({
        "sum_qty": ("sum", "q"),
        "sum_base_price": ("dsum_unscale", "bp"),
        "sum_disc_price": ("dsum_unscale", "dp"),
        "__sum_p": ("sum", "p"),
        "__sum_d": ("sum", "d"),
        "count_order": ("sum", "n"),
    })
    return out.select(
        "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
        "sum_disc_price",
        (F.col("sum_qty") / F.col("count_order")).alias("avg_qty"),
        (F.col("__sum_p") / F.col("count_order")).alias("avg_price"),
        (F.col("__sum_d") / F.col("count_order")).alias("avg_disc"),
        "count_order",
    )


def _q_masked_sum(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return GroupBy(li, "l_returnflag").agg(
        {"sum_qty_hidisc": ("sum", "l_quantity"), "n_hidisc": ("count", "l_quantity")},
        mask=F.col("l_discount") > 0.05,
    )


def _q_size(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return GroupBy(li, ["l_returnflag", "l_linestatus"]).size()


def _q_minmax(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return GroupBy(li, "l_returnflag").agg({
        "min_qty": ("min", "l_quantity"),
        "max_qty": ("max", "l_quantity"),
        "min_price": ("min", "l_extendedprice"),
        "max_price": ("max", "l_extendedprice"),
    })


def _q_var_std(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return GroupBy(li, "l_returnflag").agg({
        "var1_qty": ("var", "l_quantity"),
        "std1_qty": ("std", "l_quantity"),
        "var0_qty": ("var", "l_quantity", {"ddof": 0}),
        "var2_qty": ("var", "l_quantity", {"ddof": 2}),
        "ss_qty": ("sum_squares", "l_quantity"),
    })


def _q_agg_callable(spark, sf):
    """Reference `agg(callable)` dispatch (core.py:1210-1213): callables are
    resolved by `__name__` to the native kernel — `np.sum`/`np.mean` here run
    the same single-pass HashAggregate as the string forms, never the Python
    callable itself."""
    import numpy as np
    li = load_table(spark, sf, "lineitem")
    return GroupBy(li, "l_returnflag").agg({
        "sum_qty": (np.sum, "l_quantity"),
        "mean_disc": (np.mean, "l_discount"),
        "max_price": (max, "l_extendedprice"),
    })


def _q_median(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return GroupBy(li, "l_returnflag").agg({
        "med_qty": ("median", "l_quantity"),
        "med_disc": ("median", "l_discount"),
    })


def _q_group_mode(spark, sf):
    """Deterministic per-group mode (ties → smallest value): count per
    (keys, value) + min_by over the (-count, value) struct — no ranking
    window, one extra vocabulary-sized agg."""
    li = load_table(spark, sf, "lineitem")
    return GroupBy(li, "l_returnflag").mode(["l_quantity", "l_linestatus"])


def _q_group_quantiles(spark, sf):
    """Exact per-group quantiles (percentile_cont semantics; beyond the
    reference's median). approx=True is the documented 100 TB path."""
    li = load_table(spark, sf, "lineitem")
    out = GroupBy(li, "l_returnflag").quantile(
        ["l_quantity", "l_extendedprice"], q=[0.25, 0.5, 0.75])
    sel = [F.col("l_returnflag")] + [
        F.round(c, 6).alias(c) for c in out.columns if c != "l_returnflag"]
    return out.select(*sel)


def _q_group_corr_cov(spark, sf):
    """Per-group Pearson correlation + sample/population covariance of
    quantity vs price — two-column aggregates with pairwise null/mask
    semantics."""
    li = load_table(spark, sf, "lineitem")
    g = GroupBy(li, "l_returnflag")
    return g.agg({
        "corr_qp": ("corr", ("l_quantity", "l_extendedprice")),
        "cov_qp": ("cov", ("l_quantity", "l_extendedprice")),
        "covp_qp": ("cov_pop", ("l_quantity", "l_extendedprice")),
    }).select("l_returnflag",
              F.round("corr_qp", 6).alias("corr_qp"),
              F.round("cov_qp", 4).alias("cov_qp"),
              F.round("covp_qp", 4).alias("covp_qp"))


def _q_first_last(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return GroupBy(li, "l_returnflag",
                   order_by=["l_orderkey", "l_linenumber"]).agg({
        "first_qty": ("first", "l_quantity"),
        "last_price": ("last", "l_extendedprice"),
    })


def _q_ratio(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return GroupBy(li, "l_returnflag").ratio(
        "l_extendedprice", "l_quantity", alias="price_per_qty")


def _q_subset_ratio(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return GroupBy(li, "l_returnflag").subset_ratio(
        "l_quantity", F.col("l_discount") > 0.05, alias="hidisc_qty_share")


def _q_density(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return GroupBy(li, ["l_returnflag", "l_linestatus"]).density("l_quantity")


def _q_value_counts(spark, sf):
    """Compound gate (r10 registry consolidation): value_counts and its
    normalize=True form in one frame — both operator paths still execute,
    both columns are value-checked by the one oracle."""
    orders = load_table(spark, sf, "orders")
    g = GroupBy(orders, "o_orderpriority")
    vc = g.value_counts()
    vn = g.value_counts(normalize=True)
    return vc.join(vn, "o_orderpriority")


def _q_nunique(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return GroupBy(li, "l_returnflag").agg({
        "n_parts": ("nunique", "l_partkey"),
        "n_supps": ("nunique", "l_suppkey"),
    })


def _q_margins_sum(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return GroupBy(li, ["l_returnflag", "l_linestatus"]).agg(
        {"sum_qty": ("sum", "l_quantity")}, margins=True)


def _q_crosstab(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return crosstab(li, "l_returnflag", "l_linestatus", "l_quantity", "sum",
                    margins=True, column_values=["F", "O"])


def _q_transform_sum(spark, sf):
    li = load_table(spark, sf, "lineitem")
    out = GroupBy(li, "l_returnflag").sum(
        "l_quantity", transform=True, alias={"l_quantity": "qty_group_sum"})
    return out.select("l_orderkey", "l_linenumber", "l_returnflag",
                      "l_quantity", "qty_group_sum")


def _q_head(spark, sf):
    # NB: (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
    # l_quantity completes a total order over the output columns so the
    # selected multiset is deterministic.
    li = load_table(spark, sf, "lineitem")
    g = GroupBy(li, "l_returnflag",
                order_by=["l_orderkey", "l_linenumber", "l_quantity"])
    return g.head(2, values=[])


def _q_nth_last(spark, sf):
    li = load_table(spark, sf, "lineitem")
    g = GroupBy(li, "l_returnflag",
                order_by=["l_orderkey", "l_linenumber", "l_quantity"])
    return g.nth(-1, values=[])


def _q_cumsum(spark, sf):
    orders = load_table(spark, sf, "orders")
    g = GroupBy(orders, "o_custkey", order_by=["o_orderdate", "o_orderkey"])
    return g.cumsum("o_totalprice").select(
        "o_custkey", "o_orderkey", "o_totalprice", "o_totalprice_cumsum")


def _q_shift(spark, sf):
    # kept callable for bench.py's warm-up shapes; the registry gate is the
    # cumulative_gate compound below
    ev = load_table(spark, sf, "events")
    g = GroupBy(ev, "user_id", order_by=["ts", "event_id"])
    return g.shift("value").select("event_id", "user_id", "value", "value_shift")


def _q_cumulative_gate(spark, sf):
    """Compound gate (r10 registry consolidation — folds the former cummax
    / cumcount / shift / diff entries): all four grouped-cumulative
    operators over the same (user_id, ts, event_id) ordering in one frame,
    each column value-checked by the one oracle. event_id is unique so the
    equi-joins are lossless."""
    ev = load_table(spark, sf, "events")
    g = GroupBy(ev, "user_id", order_by=["ts", "event_id"])
    base = _q_shift(spark, sf)
    cm = g.cummax("value").select("event_id", "value_cummax")
    cc = g.cumcount().select("event_id", "cumcount")
    d = g.diff("value").select("event_id", "value_diff")
    return base.join(cm, "event_id").join(cc, "event_id").join(d, "event_id")


def _q_rolling_sum(spark, sf):
    ev = load_table(spark, sf, "events")
    g = GroupBy(ev, "user_id", order_by=["ts", "event_id"])
    return g.rolling_sum("value", window=3).select(
        "event_id", "user_id", "value", "value_rolling_sum")


def _q_rolling_gate(spark, sf):
    """Compound gate (r10 registry consolidation — folds the former
    rolling_sum / rolling_mean / rolling_minmax / rolling_sum_masked
    entries): the fixed-window rolling family plus the masked variant
    (window spans the last w UNMASKED observations, reference
    numba.py:1196-1246) in one frame."""
    ev = load_table(spark, sf, "events")
    g = GroupBy(ev, "user_id", order_by=["ts", "event_id"])
    base = _q_rolling_sum(spark, sf)
    rm = g.rolling_mean("value", window=3, min_periods=1).select(
        "event_id", "value_rolling_mean")
    mn = g.rolling_min("value", window=5, min_periods=2)
    mx = GroupBy(mn, "user_id", order_by=["ts", "event_id"]).rolling_max(
        "value", window=5, min_periods=2).select(
        "event_id", "value_rolling_min", "value_rolling_max")
    msk = g.rolling_sum("value", window=3, mask=F.col("event_type") != "error",
                        min_periods=1).select(
        "event_id", F.col("value_rolling_sum").alias("value_rolling_sum_masked"))
    return (base.join(rm, "event_id").join(mx, "event_id")
                .join(msk, "event_id"))


def _q_rolling_quantile(spark, sf):
    """Trailing-window exact median + quantile (r13 —
    GroupBy.rolling_median / rolling_quantile, windowed `percentile`
    with linear interpolation, the pandas rolling().quantile /
    DuckDB quantile_cont convention). The fixture values are DYADIC
    (floor(value·64)/64) and the window is 25 rows with q ∈ {0.5,
    0.25}, so every interpolation weight and every interpolated value
    is an exact binary rational — both engines compute bit-identical
    doubles regardless of how each factors lo + f·(hi − lo), and no
    rounding is shipped. Deterministic NULLs occupy window slots but
    are skipped by the stat and by min_periods, the pandas
    convention."""
    ev = load_table(spark, sf, "events")
    base = ev.select(
        "event_id", "event_type",
        F.when(F.pmod(F.col("event_id"), F.lit(7)) >= 2,
               F.floor(F.col("value") * 64) / 64).alias("v"))
    g = GroupBy(base, "event_type", order_by="event_id")
    med = g.rolling_median("v", window=25, min_periods=5).select(
        "event_id", "event_type", "v",
        F.col("v_rolling_median").alias("rmed"))
    q25 = g.rolling_quantile(0.25, "v", window=25, min_periods=5).select(
        "event_id", F.col("v_rolling_quantile").alias("rq25"))
    return med.join(q25, "event_id").select(
        "event_id", "event_type", "v", "rmed", "rq25")


def _q_rolling_corr_cov(spark, sf):
    """Trailing-window pairwise covariance + Pearson correlation (r14 —
    GroupBy.rolling_cov / rolling_corr, pandas rolling().cov()/.corr()
    pairwise-complete semantics). The stat decomposes into windowed
    sums (n, Σx, Σy, Σxy, Σx², Σy²) with the float arithmetic done
    once on top; the fixture is DYADIC (k/64, k/128 rationals), so
    every windowed sum is exact in both engines regardless of
    accumulation order and the shipped doubles are bit-identical IEEE
    results of the same closed expression the oracle spells out.
    Deterministic NULLs in each column exercise pairwise exclusion;
    min_periods counts complete pairs."""
    ev = load_table(spark, sf, "events")
    did = F.col("event_id")
    x = F.when(F.pmod(did, F.lit(11)) != 3,
               F.pmod(did, F.lit(97)).cast("double") / 64)
    y = F.when(F.pmod(did, F.lit(13)) != 5,
               F.pmod(did * 3, F.lit(101)).cast("double") / 64
               - F.pmod(did, F.lit(89)).cast("double") / 128)
    base = ev.select("event_id", "event_type", x.alias("x"), y.alias("y"))
    g = GroupBy(base, "event_type", order_by="event_id")
    cov = g.rolling_cov("x", "y", window=6, min_periods=3).select(
        "event_id", "event_type", "x", "y",
        F.col("x_y_rolling_cov").alias("rcov"))
    corr = g.rolling_corr("x", "y", window=6, min_periods=3).select(
        "event_id", F.col("x_y_rolling_corr").alias("rcorr"))
    return cov.join(corr, "event_id").select(
        "event_id", "event_type", "x", "y", "rcov", "rcorr")


def _q_group_rolling_corr_scale(spark, sf):
    """Pairwise rolling cov/corr at few-huge-groups scale (r14 —
    functions.ordered.grouped_rolling_cov/corr: range-partition
    pairwise prefix pass + offset-window self-join, no per-group window
    sort). Same dyadic fixture and closed expression as
    rolling_corr_cov, so the two paths share ONE oracle bit-exactly —
    prefix DIFFERENCES of exact sums equal the window form's direct
    frame sums."""
    from pandas_plus_spark.functions.ordered import (grouped_rolling_corr,
                                                     grouped_rolling_cov)

    ev = load_table(spark, sf, "events")
    did = F.col("event_id")
    x = F.when(F.pmod(did, F.lit(11)) != 3,
               F.pmod(did, F.lit(97)).cast("double") / 64)
    y = F.when(F.pmod(did, F.lit(13)) != 5,
               F.pmod(did * 3, F.lit(101)).cast("double") / 64
               - F.pmod(did, F.lit(89)).cast("double") / 128)
    base = ev.select("event_id", "event_type", x.alias("x"), y.alias("y"))
    cov = grouped_rolling_cov(base, "event_type", "event_id", "x", "y",
                              window=6, min_periods=3).select(
        "event_id", "event_type", "x", "y",
        F.col("x_y_rolling_cov").alias("rcov"))
    corr = grouped_rolling_corr(base, "event_type", "event_id", "x", "y",
                                window=6, min_periods=3).select(
        "event_id", F.col("x_y_rolling_corr").alias("rcorr"))
    return cov.join(corr, "event_id").select(
        "event_id", "event_type", "x", "y", "rcov", "rcorr")


def _q_sessionize(spark, sf):
    # cast handles TIMESTAMP_NTZ sources (e.g. DuckDB-written parquet);
    # gap-based sessions are invariant under the constant tz shift.
    ev = load_table(spark, sf, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
    g = GroupBy(ev, "user_id")
    out = g.group_nearby_members("ts_us", max_diff=1_800_000_000)
    return out.select("event_id", "user_id", "session_id")


def _q_streaming_sessions(spark, sf):
    """Streaming oracle gate: replay the events table through the Structured
    Streaming session operator (readStream → session_window → memory sink,
    availableNow trigger) and return the BATCH result table. Complete output
    mode emits the final session state for the whole replay, so the result
    equals the batch gap-session oracle on the same events — this pins
    streaming/sessions.py to a value-checked row instead of tests-only.
    Timestamps surface as epoch-µs longs to keep the cross-engine compare
    integer-exact."""
    import tempfile
    import uuid

    from pandas_plus_spark import streaming as pps_streaming

    ev = load_table(spark, sf, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value")
    # re-stage through a parquet DIR: a file-source stream needs a directory,
    # and rewriting via Spark normalizes the raw table's ns timestamps
    src = tempfile.mkdtemp(prefix="pps_stream_src_")
    ev.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    sessions = pps_streaming.sessionized_stream(
        stream, ts_col="ts", key_col="user_id",
        gap="30 minutes", watermark="1 hour")
    name = "pps_sessions_" + uuid.uuid4().hex[:8]
    ckpt = tempfile.mkdtemp(prefix="pps_stream_ckpt_")
    q = (sessions.writeStream.format("memory").queryName(name)
         .outputMode("complete").option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.table(name).select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        "n_events", "total_value")


def _replay_stream(spark, stream_df, output_mode: str):
    """Run a streaming DataFrame to completion (availableNow trigger) into a
    memory sink and return the batch result table. Shared by the streaming
    gate queries — the replay-vs-batch-oracle protocol from
    _q_streaming_sessions."""
    import tempfile
    import uuid

    name = "pps_replay_" + uuid.uuid4().hex[:8]
    ckpt = tempfile.mkdtemp(prefix="pps_stream_ckpt_")
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(output_mode).option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    out = spark.table(name)
    # The memory sink pins the full result on the JVM heap for the session
    # lifetime (at sf10 each streaming gate leaves a 10M-row table behind,
    # measured as multi-x slowdowns of LATER queries). Ride the engine's
    # release protocol: dropping the temp view after the caller consumes
    # the frame lets the sink rows be collected.
    from pandas_plus_spark.util import attach_cached

    class _MemorySinkHandle:
        def __init__(self, spark_, name_):
            self._spark, self._name = spark_, name_

        def unpersist(self, blocking=False):
            try:
                self._spark.catalog.dropTempView(self._name)
            except Exception:
                pass

    return attach_cached(out, _MemorySinkHandle(spark, name))


def _stage_events_stream(spark, sf):
    """Re-stage the events table through a parquet dir and open it as a
    file-source stream (a file stream needs a directory; the rewrite also
    normalizes raw ns timestamps)."""
    import tempfile

    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts"),
        "event_type", "value")
    src = tempfile.mkdtemp(prefix="pps_stream_src_")
    ev.write.mode("overwrite").parquet(src)
    return spark.readStream.schema(ev.schema).parquet(src)


def _q_streaming_tumbling(spark, sf):
    """Streaming tumbling-window gate: replay events through the
    watermarked windowed aggregation (streaming/sessions.py
    windowed_agg_stream) and emit the final per-(event_type, hour) counts
    and means. Complete output mode over a full availableNow replay equals
    the batch date_trunc-hour aggregation — pinning the watermark + window
    operator to a value-checked row. State at scale is bounded by
    (#keys x watermark/window) live windows, independent of stream length."""
    from pandas_plus_spark import streaming as pps_streaming

    stream = _stage_events_stream(spark, sf)
    agg = pps_streaming.windowed_agg_stream(
        stream, ts_col="ts", key_col="event_type",
        window="1 hour", watermark="2 hours")
    return _replay_stream(spark, agg, "complete").select(
        "event_type",
        F.unix_micros("window_start").alias("window_start_us"),
        "n_events", "avg_value")


def _q_streaming_sliding(spark, sf):
    """Streaming SLIDING-window gate (completes the streaming matrix:
    sessions, tumbling, sliding, dedup, stateful): 2-hour windows sliding
    hourly, so every event lands in exactly two windows. The batch oracle
    enumerates both window starts per event (trunc(ts) and trunc(ts)-1h)
    and aggregates — complete-mode availableNow replay equals it."""
    from pandas_plus_spark import streaming as pps_streaming

    stream = _stage_events_stream(spark, sf)
    agg = pps_streaming.windowed_agg_stream(
        stream, ts_col="ts", key_col="event_type",
        window="2 hours", slide="1 hour", watermark="4 hours")
    return _replay_stream(spark, agg, "complete").select(
        "event_type",
        F.unix_micros("window_start").alias("window_start_us"),
        "n_events", "avg_value")


def _q_streaming_dedup(spark, sf):
    """Streaming exact-dedup gate: replay events through
    dropDuplicatesWithinWatermark on (user_id, event_type). The watermark
    horizon (3650 days) covers the whole replay, so exactly one row per
    identity survives — the batch equivalent is SELECT DISTINCT. Only the
    identity columns are emitted (which physical row survives is
    arrival-order-dependent; the identity set is not). At scale, state
    holds one ~16-byte entry per distinct identity inside the horizon and
    is evicted as the watermark advances (streaming/sessions.py
    deduped_stream)."""
    from pandas_plus_spark import streaming as pps_streaming

    stream = _stage_events_stream(spark, sf)
    deduped = pps_streaming.deduped_stream(
        stream, ["user_id", "event_type"], ts_col="ts",
        watermark="87600 hours")
    return _replay_stream(spark, deduped, "append").select(
        "user_id", "event_type")


def _q_streaming_running(spark, sf):
    """Custom stateful streaming gate: replay events through
    applyInPandasWithState (streaming/stateful.py stateful_running_total —
    the streaming analog of the reference's cumulative kernels,
    numba.py:1613-1674). A single availableNow batch delivers each key's
    rows sorted by event_id, so the running totals equal the batch window
    cumsum — additions happen in the same order on both engines, making
    even the accumulated doubles bit-comparable. State is two scalars per
    key regardless of stream length."""
    from pandas_plus_spark.streaming import stateful_running_total

    stream = _stage_events_stream(spark, sf).select(
        "user_id", "event_id", "value")
    out = stateful_running_total(stream, "user_id")
    return _replay_stream(spark, out, "append").select(
        "user_id", "event_id", "value", "running_total", "running_count")


def _q_streaming_ewm(spark, sf):
    """Stateful streaming EWM gate: replay events through
    applyInPandasWithState (streaming/stateful.py stateful_ewm — the
    streaming analog of GroupBy.ewm_mean's chunk-rescaled scan, with the
    carry in the state store). A single availableNow batch delivers each
    key's rows sorted by event_id, so the replay equals the batch
    adjusted EWM; multi-micro-batch state continuation is pinned by
    TestStatefulEwm. Oracle: the closed-form weighted sum over in-group
    pairs (the ewm_mean oracle)."""
    from pandas_plus_spark.streaming import stateful_ewm

    stream = _stage_events_stream(spark, sf).select(
        "user_id", "event_id", "value")
    out = stateful_ewm(stream, alpha=0.1)
    return _replay_stream(spark, out, "append").select(
        "user_id", "event_id", F.col("ewm").alias("ewm_v"))


def _q_lsh_recall(spark, sf):
    """LSH pair-generation quality gate (similarity.lsh_pair_recall,
    mirroring ann_recall): hyperplane-LSH near-dup pairs vs the exact
    cosine pair graph. Multi-table OR-construction (r4) measures 0.96
    recall at 3 planes x 12 tables on this corpus — the single-table path
    measured 0.002, which is why the gate exists. The 0.8 bar leaves drift
    headroom; a broken bucket join scores near the candidate fraction
    (~0.2) and fails loudly. r12: this gate IS the registry coverage for
    the seeded hyperplane-LSH path — lsh_pair_recall runs
    hyperplane_lsh_buckets per table inside lsh_candidate_pairs, so the
    former rows-only hyperplane_lsh_buckets entry retired."""
    emb = _cast_double_embeddings(spark, sf)
    rec = similarity.lsh_pair_recall(emb, 0.30, n_planes=3, n_tables=12)
    return rec.select("n_exact", (F.col("recall") >= 0.8).alias("recall_ok"))


def _q_group_rank(spark, sf):
    """Window-ranking pass-through (SURVEY §2.11: the reference has no
    rank/dense_rank/ntile — Spark natives surface through the engine):
    per-returnflag quantity ranks with heavy ties, so rank vs dense_rank
    vs percent_rank tie semantics are all value-checked."""
    li = load_table(spark, sf, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(F.col("l_quantity").asc())
    return li.select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
        F.rank().over(w).alias("qty_rank"),
        F.dense_rank().over(w).alias("qty_dense_rank"),
        F.percent_rank().over(w).alias("qty_percent_rank"),
    )


def _q_weighted_sample(spark, sf):
    """Quality-weighted sampling without replacement (operators/sampling.py
    weighted_sample_per_group): per source, 10 documents drawn
    proportionally to n_chars via deterministic Efraimidis-Spirakis keys —
    identical selection on any partition layout, value-checked against the
    ANSI twin."""
    docs = load_table(spark, sf, "documents")
    out = sampling.weighted_sample_per_group(
        docs, "source", "n_chars", 10, "doc_id", seed=5)
    return out.select("doc_id", "source", "n_chars")


def _q_rolling_time(spark, sf):
    """Time-based trailing window (GroupBy.rolling_time): per user, value
    stats over the last 30 minutes of events — the range-frame analog of
    the row-count rolling family. Closed-interval SQL range semantics, so
    any engine agrees row-for-row including timestamp ties."""
    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"), "value")
    out = GroupBy(ev, "user_id", order_by="ts_us").rolling_time(
        "value", on="ts_us", window=1_800_000_000,
        funcs=("sum", "mean", "count"), min_periods=1)
    return out.select("event_id", "user_id", "ts_us", "value",
                      "value_tsum", "value_tmean", "value_tcount")


def _q_curation_pipeline(spark, sf):
    """End-to-end curation disposition — the composed pipeline a real
    training-data team runs, in ONE engine pass per document: exact-dup
    canonicalization, quality gate, Gopher repetition gate, language ID,
    and deterministic split assignment. Everything map-side except ONE
    exchange on the content hash (r11: the canonical id comes from a
    min-window over the hash — dup-cluster-bounded partitions — instead
    of the former second docs scan + hash agg + join; one shuffle of the
    flags frame replaces two corpus shuffles + a join. Same-boot 4-round
    A/B at sf1: 1.03 vs 1.14 s median, 0.97 vs 1.16 first — and the r11
    term-fusion probe measured NOTHING on the expression side: codegen
    CSE already shares the tokenizing split across the flag columns, 7
    plan occurrences vs 2 priced identical, BASELINE.md). `keep` is the
    conjunction of the gates (three-valued logic on empty docs matches
    ANSI — both engines agree). Zero Python anywhere."""
    from pyspark.sql import Window

    from pandas_plus_spark.operators.corpus import max_equal_run_count

    docs = ensure_parallelism(load_table(spark, sf, "documents"))
    ls = corpus.line_stats(F.col("text"))
    toks = tx.simple_tokens(F.col("text"))
    # count-only run max (corpus.max_equal_run_count — r10): the gate
    # never reads the argmax gram, and the boundary-index formulation is
    # ~15% cheaper than the struct fold on the pipeline's dominant term
    frac = tx.let(
        max_equal_run_count(tx.word_ngrams(toks, 2)),
        lambda c: F.when(c > 0, c * 2 / F.size(toks))
        .otherwise(F.lit(0.0)))
    flags = docs.select(
        "doc_id",
        (tx.quality_score("text") >= 0.5).alias("passes_quality"),
        ((ls["dup_line_frac"] <= 0.30)
         & (ls["dup_line_char_frac"] <= 0.20)
         & (frac <= 0.20)).alias("passes_repetition"),
        tx.lang_id(toks).alias("pred_lang"),
        sampling.split_assign(
            "doc_id", {"train": 8.0, "valid": 1.0, "test": 1.0},
            seed=3).alias("split"),
        F.sha2(F.col("text").cast("string"), 256).alias("__h"),
    )
    # bounded window: partitions are content-hash dup clusters, never
    # corpus-sized — same keep_id = min(doc_id) rule as dedup.exact_dedup
    keep_id = F.min("doc_id").over(Window.partitionBy("__h"))
    canonical = F.col("doc_id") == keep_id
    return flags.select(
        "doc_id", canonical.alias("is_canonical"),
        "passes_quality", "passes_repetition", "pred_lang", "split",
        (canonical & F.col("passes_quality") & F.col("passes_repetition"))
        .alias("keep"),
    )


def _q_chunk_dedup(spark, sf):
    """Paragraph-level dedup signals (operators/dedup.py chunk_dedup_stats):
    chunks hashed corpus-wide, per-doc duplicate-chunk fraction. Every 7th
    doc is PREFIXED with a shared boilerplate block — prefixing keeps the
    fixed-width chunk grid phase-aligned across documents, so the
    boilerplate's leading chunks are exact duplicates corpus-wide (a suffix
    would land at a different offset in every doc and produce none)."""
    docs = load_table(spark, sf, "documents")
    boiler = ("this site uses cookies accept our terms and privacy policy"
              " subscribe to the newsletter for updates ") * 4
    shaped = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 7 == 0, F.concat(F.lit(boiler), "text"))
        .otherwise(F.col("text")).alias("text"))
    return dedup.chunk_dedup_stats(shaped, "text", "doc_id", chunk_size=200)


def _q_doc_chunks(spark, sf):
    """Sliding-window document chunking with overlap (operators/packing.py
    chunk_documents): pure sequence+substring+posexplode projection — zero
    shuffles, chunk-sized output rows."""
    docs = load_table(spark, sf, "documents")
    out = packing.chunk_documents(docs, "text", "doc_id",
                                  chunk_size=200, overlap=50)
    return out.select("doc_id", "chunk_idx",
                      F.col("chunk_start").cast("long").alias("chunk_start"),
                      "chunk_text", "chunk_len")


def _q_embedding_quantize(spark, sf):
    """Per-vector int8 scalar quantization diagnostics
    (operators/similarity.py quantize_embeddings): map-side only; explicit
    left-fold accumulation so results are partition-order independent."""
    emb = load_table(spark, sf, "embeddings")
    return similarity.quantize_embeddings(emb, "embedding", "vec_id")


def _q_unigram_ppl(spark, sf):
    """Per-doc cross-entropy/perplexity under the corpus unigram LM
    (operators/ranking.py unigram_lm_score)."""
    docs = load_table(spark, sf, "documents")
    out = ranking.unigram_lm_score(docs, "doc_id", "text")
    return out.select("doc_id", "n_tokens", "xent", "ppl")


def _q_incremental_dedup(spark, sf):
    """Cross-corpus incremental dedup (operators/dedup.py
    incremental_dedup): docs with doc_id % 5 = 0 are the "new batch", the
    rest the existing corpus. Poly hash family so the whole pipeline —
    exact sha match, LSH band join new x ref, Jaccard verify, best-match
    pick — is value-checked against the SQL twin.

    Compound gate (r10 registry consolidation — folds the former
    incremental_dedup_indexed / incremental_dedup_bucketed entries): all
    THREE forms run — recompute-from-scratch, the stored parquet index
    (production shape: per-batch cost proportional to the new data, Bloom
    bitmap probed map-side), and the bucketed stored index (exact stage's
    index side exchange- and sort-free from the bucket layout). The
    layouts are pure precomputation, so the three tag-unioned frames must
    be identical; the oracle replays the SQL twin once per tag."""
    docs = load_table(spark, sf, "documents")
    new_df = docs.filter(F.col("doc_id") % 5 == 0)
    ref_df = docs.filter(F.col("doc_id") % 5 != 0)
    a = dedup.incremental_dedup(
        new_df, ref_df, "text", "doc_id", threshold=0.3,
        num_hashes=8, bands=4, shingle_size=3, hash_fn="poly")
    b = _q_incremental_dedup_indexed(spark, sf)
    c = _q_incremental_dedup_bucketed(spark, sf)
    return (a.withColumn("form", F.lit("recompute"))
             .unionByName(b.withColumn("form", F.lit("indexed")))
             .unionByName(c.withColumn("form", F.lit("bucketed"))))


def _ensure_ref_index(spark, sf):
    """Build (once per WAREHOUSE) the STORED reference-corpus dedup index —
    content hashes + LSH band entries + the Bloom bitmap over the content
    hashes, all written to parquet: the layout a continuously-ingesting
    pipeline maintains so each increment re-processes only the new batch
    and probes the bitmap map-side before the exact join. Returns the
    parquet paths plus the bitmap's size.

    The bitmap is sized from the REFERENCE CORPUS COUNT (~10 bits/key,
    pow2-rounded, floor 2^17): a fixed size silently saturates as the
    corpus grows — at sf1 (~550k ref docs) the old fixed 2^17 bits was
    0.24 bits/key, fill ≈ 1.0, FP ≈ 100%: every probe "might match", so
    the pre-filter removed nothing and its collect + Arrow probe pass
    were pure overhead (the r7 engine-vs-DuckDB drift on this query).
    The count is one extra job at BUILD time only; the size rides in a
    sidecar JSON so later sessions probe with the bits the bitmap was
    built with."""
    import json as _json
    import math
    import os
    import re as _re
    from urllib.parse import urlparse

    tag = _re.sub(r"[^0-9A-Za-z]+", "_", sf.rstrip("/").rsplit("/", 1)[-1])
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    base = os.path.join(wh, f"pps_refidx_{tag}")
    ch_p, be_p = os.path.join(base, "content_hashes"), os.path.join(base, "band_entries")
    bw_p = os.path.join(base, "bloom_words")
    meta = os.path.join(base, "_built_v3.json")
    if not os.path.exists(meta):
        docs = load_table(spark, sf, "documents")
        ref_df = docs.filter(F.col("doc_id") % 5 != 0)
        n_ref = ref_df.count()
        bloom_bits = 1 << max(17, math.ceil(math.log2(max(1, 10 * n_ref))))
        idx = dedup.build_ref_index(ref_df, "text", "doc_id", num_hashes=8,
                                    bands=4, shingle_size=3, hash_fn="poly",
                                    bloom_bits=bloom_bits)
        idx.content_hashes.write.mode("overwrite").parquet(ch_p)
        idx.band_entries.write.mode("overwrite").parquet(be_p)
        idx.bloom_words.write.mode("overwrite").parquet(bw_p)
        os.makedirs(base, exist_ok=True)
        with open(meta, "w") as fh:
            _json.dump({"bloom_bits": int(bloom_bits)}, fh)
    else:
        bloom_bits = _json.load(open(meta))["bloom_bits"]
    return ch_p, be_p, bw_p, bloom_bits


_REFIDX_CACHE: dict = {}


def _ensure_ref_index_bucketed(spark, sf):
    """The stored dedup index as BUCKETED catalog tables (once per
    WAREHOUSE): content hashes bucketed+sorted on ``__h``, band entries
    bucketed on ``(band, bhash)`` — so every increment's batch-vs-index
    joins read the INDEX side's distribution straight from the layout.
    At 100 TB this is the difference that matters: the reference index
    is corpus-sized while the batch is small, and the plain parquet
    index re-shuffles (and re-sorts) the whole index every increment;
    the bucketed layout makes each increment's exact join exchange-free
    AND sort-free on the index side (one Exchange total: the batch).
    Same cross-session contract as the bucketed facts: files + a sidecar
    JSON survive in the warehouse, and a fresh session re-registers them
    with CLUSTERED BY DDL instead of rebuilding (the build is the
    one-time cost; reattach is a DDL statement)."""
    import json as _json
    import os as _os
    import re as _re
    from urllib.parse import urlparse as _urlparse

    from pandas_plus_spark.sources import write_bucketed

    tag = _re.sub(r"[^0-9A-Za-z]+", "_", sf.rstrip("/").rsplit("/", 1)[-1])
    h_t, b_t = f"pps_refidx_bkt_hashes_{tag}", f"pps_refidx_bkt_bands_{tag}"
    wh = _urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    bw_p = f"{wh}/pps_refidx_bkt_bloom_{tag}"
    meta_path = f"{wh}/pps_refidx_bkt_meta_{tag}.json"

    def _reattach(table: str, keys: str, sort: str, cols, n_buckets) -> None:
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in cols)
        spark.sql(
            f"CREATE TABLE {table} ({ddl}) USING parquet "
            f"CLUSTERED BY ({keys}) SORTED BY ({sort}) "
            f"INTO {n_buckets} BUCKETS LOCATION '{wh}/{table}'")

    # reattach/exists decisions key on ALL artifacts together (both
    # catalog entries, both table dirs, the bloom dir, the meta JSON) —
    # partial warehouse state from an interrupted build (e.g. h_t written
    # but b_t/meta missing) previously re-registered a nonexistent bands
    # table or died on the final meta read; any incomplete state now
    # drops the half-registered tables and rebuilds from scratch
    files_ok = (_os.path.exists(meta_path) and _os.path.isdir(f"{wh}/{h_t}")
                and _os.path.isdir(f"{wh}/{b_t}") and _os.path.isdir(bw_p))
    tables_ok = (spark.catalog.tableExists(h_t)
                 and spark.catalog.tableExists(b_t))
    if not (files_ok and tables_ok):
        for t in (h_t, b_t):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        if files_ok:
            meta = _json.load(open(meta_path))
            _reattach(h_t, "__h", "__h", T.StructType([
                T.StructField("__h", T.StringType()),
                T.StructField("ref_id", T.LongType())]), meta["n_buckets"])
            _reattach(b_t, "band, bhash", "band, bhash", T.StructType([
                T.StructField("id", T.LongType()),
                T.StructField("band", T.IntegerType()),
                T.StructField("bhash", T.LongType())]), meta["n_buckets"])
            return h_t, b_t, bw_p, meta["bloom_bits"]
        import math
        import shutil
        docs = load_table(spark, sf, "documents")
        ref_df = docs.filter(F.col("doc_id") % 5 != 0)
        n_ref = ref_df.count()
        bloom_bits = 1 << max(17, math.ceil(math.log2(max(1, 10 * n_ref))))
        n_buckets = max(8, n_ref // 500_000 + 1)
        idx = dedup.build_ref_index(ref_df, "text", "doc_id", num_hashes=8,
                                    bands=4, shingle_size=3, hash_fn="poly",
                                    bloom_bits=bloom_bits)
        for t in (h_t, b_t):
            shutil.rmtree(f"{wh}/{t}", ignore_errors=True)
        write_bucketed(idx.content_hashes, h_t, "__h", n_buckets,
                       sort_by="__h", mode="overwrite")
        # sort_by MUST match the reattach DDL's SORTED BY: write_bucketed
        # guarantees one file per bucket, the condition under which Spark
        # trusts catalog sort metadata and elides the table-side sort in a
        # sort-merge join — a reattached table written unsorted would make
        # that SMJ silently drop matches
        write_bucketed(
            idx.band_entries.select("id", F.col("band").cast("int"), "bhash"),
            b_t, ["band", "bhash"], n_buckets, sort_by=["band", "bhash"],
            mode="overwrite")
        idx.bloom_words.write.mode("overwrite").parquet(bw_p)
        with open(meta_path, "w") as fh:
            _json.dump({"bloom_bits": int(bloom_bits),
                        "n_buckets": int(n_buckets)}, fh)
    return h_t, b_t, bw_p, _json.load(open(meta_path))["bloom_bits"]


def _q_incremental_dedup_bucketed(spark, sf):
    """incremental_dedup against the BUCKETED stored index
    (_ensure_ref_index_bucketed): identical results to
    incremental_dedup / _indexed (the layout is pure precomputation,
    same oracle SQL) — but the exact stage's index side satisfies its
    join distribution from the bucket layout (exchange- and sort-free;
    pinned in tests/test_sinks.py), which at a corpus-sized index is the
    increment's dominant shuffle removed."""
    h_t, b_t, bw_p, bloom_bits = _ensure_ref_index_bucketed(spark, sf)
    docs = load_table(spark, sf, "documents")
    new_df = docs.filter(F.col("doc_id") % 5 == 0)
    ref_df = docs.filter(F.col("doc_id") % 5 != 0)
    key = (spark.sparkContext.applicationId, h_t)
    idx = _REFIDX_CACHE.get(key)
    if idx is None:
        idx = dedup.RefIndex(
            spark.table(h_t), spark.table(b_t),
            bloom_words=spark.read.parquet(bw_p), bloom_bits=bloom_bits)
        _REFIDX_CACHE[key] = idx
    return dedup.incremental_dedup(
        new_df, ref_df, "text", "doc_id", threshold=0.3,
        num_hashes=8, bands=4, shingle_size=3, hash_fn="poly",
        ref_index=idx)


def _q_incremental_dedup_indexed(spark, sf):
    """incremental_dedup's PRODUCTION shape: the reference corpus's index
    (content hashes + LSH band entries + Bloom bitmap) is read back from
    parquet instead of recomputed, so the per-batch cost is proportional
    to the new data (plus candidate-pruned verify shingling), and the
    batch probes the bitmap map-side before the exact join. Result is
    IDENTICAL to incremental_dedup — same oracle SQL — because the index
    is pure precomputation and Bloom filters have no false negatives."""
    ch_p, be_p, bw_p, bloom_bits = _ensure_ref_index(spark, sf)
    docs = load_table(spark, sf, "documents")
    new_df = docs.filter(F.col("doc_id") % 5 == 0)
    ref_df = docs.filter(F.col("doc_id") % 5 != 0)
    # Hold the RefIndex OBJECT across batches (keyed per session+index):
    # a standing ingestion pipeline keeps its index resident, so the
    # dense-bitmap collect (RefIndex.dense_bitmap) runs once per index,
    # not once per batch. DataFrames are session-bound — key by appId.
    key = (spark.sparkContext.applicationId, ch_p)
    idx = _REFIDX_CACHE.get(key)
    if idx is None:
        idx = dedup.RefIndex(spark.read.parquet(ch_p),
                             spark.read.parquet(be_p),
                             bloom_words=spark.read.parquet(bw_p),
                             bloom_bits=bloom_bits)
        _REFIDX_CACHE.clear()  # one standing index per process is plenty
        _REFIDX_CACHE[key] = idx
    return dedup.incremental_dedup(
        new_df, ref_df, "text", "doc_id", threshold=0.3,
        num_hashes=8, bands=4, shingle_size=3, hash_fn="poly",
        ref_index=idx)


def _q_bloom_dedup(spark, sf):
    """Bloom-prefiltered exact cross-corpus dedup (operators/dedup.py
    exact_match_bloom + functions/bloom.py): the reference corpus's
    content hashes fold into a 2^17-bit bitmap (corpus-size-independent,
    16 KiB); the new batch probes it MAP-SIDE (zero shuffle, broadcast
    numpy bitmap, vectorized per Arrow batch) and only might-match
    survivors take the exact sha-256 verification join. Bloom filters
    have no false negatives and survivors are exactly verified, so the
    result is hash-identical to the plain exact text join the oracle
    runs. Content key = the leading 32 chars (head fingerprint — the
    boilerplate-dedup shape), which unlike full text actually collides in
    the fixture corpus, so the gate exercises survivor rows, not just the
    all-filtered path."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id", F.substring("text", 1, 32).alias("head"))
    new_df = docs.filter(F.col("doc_id") % 5 == 0)
    ref_df = docs.filter(F.col("doc_id") % 5 != 0)
    return dedup.exact_match_bloom(new_df, ref_df, "head", "doc_id",
                                   n_bits=1 << 17, k=7)


def _q_duplicated_spans(spark, sf):
    """Exact-substring dedup at span granularity (operators/dedup.py
    duplicated_spans, Lee et al. 2022): maximal per-document token spans
    whose every k-gram also appears in >= 2 distinct documents. Poly hash
    family so positional gram hashes, the cross-doc distinct count, and
    the gap-merge are all value-checked against the SQL twin."""
    docs = load_table(spark, sf, "documents")
    return dedup.duplicated_spans(docs, "text", "doc_id", k=6,
                                  hash_fn="poly")


def _q_exact_substring_spans(spark, sf):
    """ARBITRARY-LENGTH exact-substring dedup (r12 —
    operators/dedup.py exact_substring_spans, the suffix-array
    ExactSubstr grain of Lee et al. 2022 via winnowing anchors +
    bidirectional extension): 400 fixture docs built as unique filler
    around PLANTED runs — docs (2i, 2i+1) share the verbatim run
    p{i}x0..p{i}x{m-1} of m = 12 + i%7 tokens at prefix offset
    3 + doc_id%5, every other token unique to its doc. The operator
    must recover each planted span EXACTLY (anchor detection guarantee:
    min_len=12 >= w + k - 1 with k=6, w=7), and nothing else; the
    oracle rebuilds every (doc, span_start, span_end) closed-form from
    the doc_id arithmetic — an anchor-selection, pairing, extension, or
    interval-merge bug shifts a boundary and fails the hash."""
    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 400).select("doc_id"))
    did = F.col("doc_id")
    pair = F.floor(did / 2)

    def toks(prefix, idc, n):
        return F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda j: F.concat(F.lit(prefix), idc.cast("string"),
                               F.lit("x"), j.cast("string")))

    text = F.concat_ws(" ", F.concat(
        toks("f", did, F.lit(3) + did % 5),
        toks("p", pair, F.lit(12) + pair % 7),
        toks("g", did, F.lit(4) + did % 3)))
    fixture = docs.select("doc_id", text.alias("text"))
    return dedup.exact_substring_spans(fixture, "text", "doc_id",
                                       min_len=12, k=6, hash_fn="poly")


def _q_ess_excision(spark, sf):
    """exact_substring_spans → excise_spans composed END-TO-END (r13,
    VERDICT r12 item 5 — the two composed on paper via the dedup.py
    docstring but no gate ran excision over ESS output; span_excision
    exercises the duplicated_spans detector instead): the same planted
    400-doc fixture as exact_substring_spans, spans detected by
    winnowing-anchor ESS, then cut out. Closed-form oracle: every doc's
    clean_text is exactly its unique filler (the planted run excised
    verbatim), n_removed = 12 + (doc_id//2)%7 — a span boundary off by
    one token leaves or removes a filler token and fails the hash."""
    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 400).select("doc_id"))
    did = F.col("doc_id")
    pair = F.floor(did / 2)

    def toks(prefix, idc, n):
        return F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda j: F.concat(F.lit(prefix), idc.cast("string"),
                               F.lit("x"), j.cast("string")))

    text = F.concat_ws(" ", F.concat(
        toks("f", did, F.lit(3) + did % 5),
        toks("p", pair, F.lit(12) + pair % 7),
        toks("g", did, F.lit(4) + did % 3)))
    fixture = docs.select("doc_id", text.alias("text"))
    spans = dedup.exact_substring_spans(fixture, "text", "doc_id",
                                        min_len=12, k=6, hash_fn="poly")
    return dedup.excise_spans(fixture, spans, "text", "doc_id")


def _q_decontaminate(spark, sf):
    """Cross-corpus benchmark decontamination (r14 —
    dedup.contaminated_spans → excise_spans composed via
    dedup.decontaminate): regions of the corpus whose every k-gram also
    occurs in the benchmark ref are flagged and cut — the GPT-3-style
    n-gram-overlap decontamination at span granularity. Fixture: 400
    corpus docs = unique filler + a class block (class c = doc_id%10,
    8 + c%5 'b'-tokens shared by ~40 docs) + unique trailer; the ref is
    the 10 pure class blocks. Only the blocks' grams exist in ref
    (filler/trailer tokens embed doc_id), so clean_text is closed-form:
    filler + trailer verbatim, n_removed = 8 + (doc_id%10)%5 — a span
    boundary off by one fails the hash. The within-corpus repetition of
    each block across ~40 docs is deliberate: it must NOT matter
    (contamination is vs ref, not corpus-internal df counts)."""
    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 400).select("doc_id"))
    did = F.col("doc_id")
    cls = did % 10

    def toks(prefix, idc, n):
        return F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda j: F.concat(F.lit(prefix), idc.cast("string"),
                               F.lit("x"), j.cast("string")))

    text = F.concat_ws(" ", F.concat(
        toks("f", did, F.lit(3) + did % 5),
        toks("b", cls, F.lit(8) + cls % 5),
        toks("g", did, F.lit(4) + did % 3)))
    fixture = docs.select("doc_id", text.alias("text"))
    ref = (load_table(spark, sf, "documents")
           .where(F.col("doc_id") < 10).select("doc_id")
           .select("doc_id", F.concat_ws(
               " ", toks("b", F.col("doc_id"),
                         F.lit(8) + F.col("doc_id") % 5)).alias("text")))
    return dedup.decontaminate(fixture, ref, "text", "doc_id", k=6,
                               hash_fn="poly")


def _q_decontaminate_drop(spark, sf):
    """Whole-document contamination policy (r15 —
    dedup.decontaminate_drop over dedup.contamination_stats): documents
    whose contaminated-token fraction is >= 0.5 are DROPPED, the rest
    pass through with per-doc accounting. Same class-block fixture as
    the decontaminate gate, so everything is closed-form: contaminated
    tokens = the block length 8 + (doc_id%10)%5, total tokens = block +
    filler (3 + doc_id%5) + trailer (4 + doc_id%3), and the fraction
    spans ~0.32..0.8 so threshold 0.5 splits the corpus nontrivially.
    The shipped contamination is ONE IEEE division of identical longs
    in both engines — bit-exact."""
    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 400).select("doc_id"))
    did = F.col("doc_id")
    cls = did % 10

    def toks(prefix, idc, n):
        return F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda j: F.concat(F.lit(prefix), idc.cast("string"),
                               F.lit("x"), j.cast("string")))

    text = F.concat_ws(" ", F.concat(
        toks("f", did, F.lit(3) + did % 5),
        toks("b", cls, F.lit(8) + cls % 5),
        toks("g", did, F.lit(4) + did % 3)))
    fixture = docs.select("doc_id", text.alias("text"))
    ref = (load_table(spark, sf, "documents")
           .where(F.col("doc_id") < 10).select("doc_id")
           .select("doc_id", F.concat_ws(
               " ", toks("b", F.col("doc_id"),
                         F.lit(8) + F.col("doc_id") % 5)).alias("text")))
    out = dedup.decontaminate_drop(fixture, ref, "text", "doc_id",
                                   threshold=0.5, k=6, hash_fn="poly")
    return out.select("doc_id", "n_tokens", "contaminated_tokens",
                      "contamination")


def _q_contamination_report(spark, sf):
    """Per-benchmark-suite contamination report (r15 —
    dedup.contamination_report): which eval suite each corpus document
    overlaps, with span counts and token mass. Same class-block fixture
    as the decontaminate gate, but the 10 benchmark blocks are labelled
    into two suites (classes 0–4 → 'sa', 5–9 → 'sb'); every doc's only
    ref-overlapping content is its own class block, so the closed form
    is one row per doc: (doc_id, suite-of-its-class, n_spans=1,
    contaminated_tokens = 8 + class%5)."""
    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 400).select("doc_id"))
    did = F.col("doc_id")
    cls = did % 10

    def toks(prefix, idc, n):
        return F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda j: F.concat(F.lit(prefix), idc.cast("string"),
                               F.lit("x"), j.cast("string")))

    text = F.concat_ws(" ", F.concat(
        toks("f", did, F.lit(3) + did % 5),
        toks("b", cls, F.lit(8) + cls % 5),
        toks("g", did, F.lit(4) + did % 3)))
    fixture = docs.select("doc_id", text.alias("text"))
    ref = (load_table(spark, sf, "documents")
           .where(F.col("doc_id") < 10).select("doc_id")
           .select(F.when(F.col("doc_id") < 5, F.lit("sa"))
                   .otherwise(F.lit("sb")).alias("suite"),
                   F.concat_ws(" ", toks("b", F.col("doc_id"),
                                         F.lit(8) + F.col("doc_id") % 5))
                   .alias("text")))
    return dedup.contamination_report(fixture, ref, "text", "doc_id",
                                      k=6, hash_fn="poly")


def _q_streaming_decontaminate(spark, sf):
    """Streaming benchmark decontamination (r14 —
    streaming/dedup.decontaminated_stream, the continuous-ingestion
    twin of the decontaminate gate): the same 400-doc class-block
    fixture replayed as a parquet file stream; the benchmark gram set
    is built ONCE (build_ref_grams, persisted for the query lifetime)
    and every micro-batch excises its contaminated spans inside
    foreachBatch before rows reach the sink. availableNow replay must
    equal the batch closed form — clean_text is filler + trailer
    verbatim, n_removed the class-block length."""
    import tempfile

    from pandas_plus_spark.streaming import decontaminated_stream

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 400).select("doc_id"))
    did = F.col("doc_id")
    cls = did % 10

    def toks(prefix, idc, n):
        return F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda j: F.concat(F.lit(prefix), idc.cast("string"),
                               F.lit("x"), j.cast("string")))

    text = F.concat_ws(" ", F.concat(
        toks("f", did, F.lit(3) + did % 5),
        toks("b", cls, F.lit(8) + cls % 5),
        toks("g", did, F.lit(4) + did % 3)))
    fixture = docs.select("doc_id", text.alias("text"))
    ref = (load_table(spark, sf, "documents")
           .where(F.col("doc_id") < 10).select("doc_id")
           .select("doc_id", F.concat_ws(
               " ", toks("b", F.col("doc_id"),
                         F.lit(8) + F.col("doc_id") % 5)).alias("text")))
    src = tempfile.mkdtemp(prefix="pps_decon_src_")
    fixture.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(fixture.schema).parquet(src)
    out_dir = tempfile.mkdtemp(prefix="pps_decon_out_")

    def sink(clean, batch_id):
        clean.write.mode("append").parquet(out_dir)

    ckpt = tempfile.mkdtemp(prefix="pps_decon_ckpt_")
    q = (decontaminated_stream(stream, ref, "text", "doc_id", sink,
                               k=6, hash_fn="poly")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return spark.read.parquet(out_dir).select(
        "doc_id", "clean_text", "n_removed")


def _q_fuzzy_join(spark, sf):
    """Edit-distance join (r13 — operators/joins.py fuzzy_join):
    SymSpell deletion-neighborhood blocking + JVM levenshtein verify,
    exact ed<=1 semantics without a cross join. Fixture: left keys
    'k'||doc_id for doc_id < 300; right keys typo'd by doc_id % 3
    (exact / leading-char substitution / trailing insertion) plus
    unmatched 'zz' rows — digit-sharing ids also legitimately match
    within distance 1 (k11 vs k1), which the oracle's brute-force
    cross join prices identically."""
    from pandas_plus_spark.operators.joins import fuzzy_join

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 300).select("doc_id"))
    did = F.col("doc_id").cast("string")
    left = docs.select(F.col("doc_id").alias("id"),
                       F.concat(F.lit("k"), did).alias("name"))
    right = docs.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("doc_id") % 3 == 0, F.concat(F.lit("k"), did))
        .when(F.col("doc_id") % 3 == 1, F.concat(F.lit("x"), did))
        .otherwise(F.concat(F.lit("k"), did, F.lit("z"))).alias("name"))
    extra = docs.select((F.col("doc_id") + 1000).alias("id"),
                        F.concat(F.lit("zz"), did).alias("name"))
    return fuzzy_join(left, right.unionByName(extra), "name", max_dist=1)


def _q_fuzzy_join_k2(spark, sf):
    """Edit-distance join at max_dist=2 (r14 — the expensive blocking
    regime: a length-L key explodes to 1 + L + C(L,2) deletion
    variants instead of 1 + L, so this gate value-checks the
    two-level variant generation and the ed<=2 verify end-to-end).
    Fixture: left keys 'k'||doc_id for doc_id < 300; right keys by
    doc_id % 4 — exact / one substitution / substitution + trailing
    insertion (ed 2) / 'zz'-wrapped far keys — plus all the
    digit-sharing incidental matches within distance 2, which the
    oracle's brute-force cross join prices identically."""
    from pandas_plus_spark.operators.joins import fuzzy_join

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 300).select("doc_id"))
    did = F.col("doc_id").cast("string")
    left = docs.select(F.col("doc_id").alias("id"),
                       F.concat(F.lit("k"), did).alias("name"))
    right = docs.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("doc_id") % 4 == 0, F.concat(F.lit("k"), did))
        .when(F.col("doc_id") % 4 == 1, F.concat(F.lit("x"), did))
        .when(F.col("doc_id") % 4 == 2,
              F.concat(F.lit("x"), did, F.lit("z")))
        .otherwise(F.concat(F.lit("zz"), did, F.lit("zz"))).alias("name"))
    return fuzzy_join(left, right, "name", max_dist=2)


def _q_fuzzy_dedup(spark, sf):
    """Fuzzy key dedup keep-list (r13 — operators/dedup.py
    fuzzy_dedup_keep_list): exact collapse → fuzzy_join(self) →
    connected components → min-id keep. Fixture: 100 four-member
    groups from doc_id arithmetic — members 0/1/2 share a base key
    ('g' + triple-encoded group + 'm') with ''/'x'/'y' suffixes
    (pairwise edit distance 1 — a transitive triangle collapsing to
    member 0), member 3 is a triple-encoded singleton. Triple
    encoding makes every INTER-cluster distance ≥ 2 (verified brute
    force over all 79,800 pairs when the fixture was designed), so
    keep is closed-form: doc_id % 4 ∈ {0, 3}."""
    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 400).select("doc_id"))
    did = F.col("doc_id")
    g3 = F.regexp_replace(F.lpad((did / 4).cast("int").cast("string"),
                                 2, "0"), "(.)", "$1$1$1")
    d3 = F.regexp_replace(F.lpad(did.cast("string"), 3, "0"),
                          "(.)", "$1$1$1")
    m = did % 4
    key = (F.when(m == 0, F.concat(F.lit("g"), g3, F.lit("m")))
           .when(m == 1, F.concat(F.lit("g"), g3, F.lit("mx")))
           .when(m == 2, F.concat(F.lit("g"), g3, F.lit("my")))
           .otherwise(F.concat(F.lit("s"), d3)))
    fixture = docs.select("doc_id", key.alias("k"))
    return dedup.fuzzy_dedup_keep_list(fixture, "k", "doc_id",
                                       max_dist=1)


def _q_dedup_keep_best(spark, sf):
    """Quality-aware dedup keep-list (r14 — quality_col= on the
    keep-list operators): each near-dup cluster keeps its
    HIGHEST-QUALITY member instead of the minimum id — what production
    dedup wants (keep the cleanest crawl of a page). Zero extra corpus
    shuffles: the per-key best folds into the exact-collapse aggregate
    as max(struct(q, -id)) and the winner is one rep-grain
    aggregation. Fixture: the fuzzy_dedup 100×4 closed-form cluster
    structure (members 0/1/2 pairwise ed 1, member 3 singleton) with
    quality q = (doc_id·7) % 13 — all within-cluster scores distinct
    by modular arithmetic, so keep is closed-form: the argmax-q member
    of each triple, every singleton."""
    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 400).select("doc_id"))
    did = F.col("doc_id")
    g3 = F.regexp_replace(F.lpad((did / 4).cast("int").cast("string"),
                                 2, "0"), "(.)", "$1$1$1")
    d3 = F.regexp_replace(F.lpad(did.cast("string"), 3, "0"),
                          "(.)", "$1$1$1")
    m = did % 4
    key = (F.when(m == 0, F.concat(F.lit("g"), g3, F.lit("m")))
           .when(m == 1, F.concat(F.lit("g"), g3, F.lit("mx")))
           .when(m == 2, F.concat(F.lit("g"), g3, F.lit("my")))
           .otherwise(F.concat(F.lit("s"), d3)))
    fixture = docs.select("doc_id", key.alias("k"),
                          ((did * 7) % 13).cast("double").alias("q"))
    return dedup.fuzzy_dedup_keep_list(fixture, "k", "doc_id",
                                       max_dist=1, quality_col="q")


def _q_weighted_pagerank(spark, sf):
    """Weighted-edge PageRank (r13 — pagerank(weight_col=)): a source's
    rank divides over its out-edges in proportion to edge WEIGHT (link
    multiplicity/quality as crawl signal). Same 500-node arithmetic
    graph as link_graph_rank with weight 1 + (src + dst) % 4 — the
    d=83 duplicate edge now SUMS to 2·w (weighted multi-edge semantics
    vs the unweighted path's distinct). exact_mass integer twin, 3
    iterations; the oracle unrolls the identical m·w // W_out shares
    with the floor division inside the sum."""
    from pandas_plus_spark.operators.graph import pagerank

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 500).select("doc_id"))
    did = F.col("doc_id")
    e1 = docs.where(did % 17 != 0).select(
        did.alias("src"), ((did * 7 + 3) % 500).alias("dst"))
    e2 = docs.where((did % 17 != 0) & (did % 3 != 0)).select(
        did.alias("src"), ((did * 13 + 5) % 500).alias("dst"))
    edges = (e1.unionByName(e2)
             .withColumn("w", F.lit(1) + (F.col("src") + F.col("dst")) % 4))
    return pagerank(edges, n_iters=3, exact_mass=True, weight_col="w")


def _q_personalized_pagerank(spark, sf):
    """Personalized (TrustRank-style) PageRank (r13 —
    operators/graph.py pagerank(personalize=)): teleport and dangling
    mass flow to SEED nodes in proportion to their weights instead of
    uniformly — the crawl-curation scorer that propagates trust (or
    spam) outward from a labeled seed set (Gyöngyi et al. 2004). Same
    500-node arithmetic web graph as link_graph_rank; seeds are
    doc_id % 50 == 0 with weight 1 + doc_id % 3. The gate runs the
    exact_mass integer twin (3 iterations, mass 10^12, floor division,
    85/100 damping, the H=10^6 split identity for tele·dang // mass);
    the oracle unrolls the identical recurrence in SQL."""
    from pandas_plus_spark.operators.graph import pagerank

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 500).select("doc_id"))
    did = F.col("doc_id")
    e1 = docs.where(did % 17 != 0).select(
        did.alias("src"), ((did * 7 + 3) % 500).alias("dst"))
    e2 = docs.where((did % 17 != 0) & (did % 3 != 0)).select(
        did.alias("src"), ((did * 13 + 5) % 500).alias("dst"))
    edges = e1.unionByName(e2)
    seeds = docs.where(did % 50 == 0).select(
        did.alias("node"), (F.lit(1) + did % 3).alias("weight"))
    return pagerank(edges, n_iters=3, exact_mass=True,
                    personalize=seeds)


def _q_link_graph_rank(spark, sf):
    """Link-graph analytics (r12 — operators/graph.py): PageRank +
    degree stats over a synthetic 500-node web graph built from doc_id
    arithmetic (edges d -> (7d+3)%500 and, for d%3 != 0, d ->
    (13d+5)%500; d%17 == 0 emits nothing = dangling nodes; d=83 emits
    the same edge twice = the duplicate-edge dedup case — the other
    7d+3 == 13d+5 solution, d=333, fails the d%3 != 0 filter on the
    second family, so only d=83 exercises dedup). The gate
    runs the exact_mass integer-arithmetic twin (3 iterations, mass
    10^12, floor division, 85/100 damping — bit-reproducible in any
    engine, the float path's poly-hash analog) joined with
    degree_stats; the oracle unrolls the same three power iterations in
    SQL — a contribution join, dangling redistribution, damping, or
    degree bug changes a mass and fails the hash."""
    from pandas_plus_spark.operators.graph import degree_stats, pagerank

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 500).select("doc_id"))
    did = F.col("doc_id")
    e1 = docs.where(did % 17 != 0).select(
        did.alias("src"), ((did * 7 + 3) % 500).alias("dst"))
    e2 = docs.where((did % 17 != 0) & (did % 3 != 0)).select(
        did.alias("src"), ((did * 13 + 5) % 500).alias("dst"))
    edges = e1.unionByName(e2)
    pr = pagerank(edges, n_iters=3, exact_mass=True)
    deg = degree_stats(edges.distinct())
    out = pr.join(deg, "node").select("node", "mass", "out_degree",
                                      "in_degree")
    return attach_cached(out, *getattr(pr, "_pps_cached", ()))


def _q_anchor_text_graph(spark, sf):
    """Anchor-text link graph (r12 — functions.urls.extract_anchor_links
    + per-target aggregation): per doc the fixture HTML carries an
    absolute-href anchor with plain text, a rooted-href anchor whose
    text embeds inner markup (must be stripped) around whitespace runs
    (must collapse), and a javascript: anchor (must drop); extraction,
    resolution and the explode are pure JVM, then one groupBy on the
    resolved target builds the classic web-corpus signal — reference
    count, referring-doc count, and the DISTINCT anchor texts
    sort-concatenated (deterministic). The oracle rebuilds the link and
    anchor strings from the same doc_id arithmetic and aggregates in
    SQL — a tag-match, markup-strip, resolution, or aggregation bug
    changes a row."""
    from pandas_plus_spark.functions.urls import extract_anchor_links

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 400).select("doc_id"))
    did = F.col("doc_id")
    base = F.concat(F.lit("http://site"), did % 7,
                    F.lit(".example/dir/p.html"))
    html = F.concat(
        F.lit('<a href="http://t'), did % 5, F.lit('.org/page">desc '),
        did % 7, F.lit(" term</a> "),
        F.lit("<a href='/local"), did % 3, F.lit("'><b>alt "), did % 4,
        F.lit("</b>  x</a> "),
        F.lit('<a href="javascript:void(0)">drop</a>'))
    pages = docs.select("doc_id", base.alias("url"), html.alias("html"))
    links = extract_anchor_links(pages, "html", "url", "doc_id")
    return (links.groupBy("link")
            .agg(F.count(F.lit(1)).alias("n_refs"),
                 F.countDistinct("doc_id").alias("n_docs"),
                 F.concat_ws("|", F.sort_array(F.collect_set("anchor")))
                 .alias("anchors")))


def _q_span_excision(spark, sf):
    """duplicated_spans → excise_spans composed (operators/dedup.py):
    the full exact-substring dedup pipeline — detect cross-document
    duplicated token spans, then cut them out of the flagged documents;
    unflagged documents pass through byte-identical. n_removed is the
    per-doc excised token count."""
    docs = load_table(spark, sf, "documents")
    spans = dedup.duplicated_spans(docs, "text", "doc_id", k=6,
                                   hash_fn="poly")
    return dedup.excise_spans(docs, spans, "text", "doc_id")


def _q_frame_sample(spark, sf):
    """Video frame-sampling plumbing (operators/multimodal.py
    sample_frames): evenly spaced byte offsets JVM-side, Arrow-batched
    extraction stub in mapInPandas; byte-level on both engines so no ASCII
    restriction is needed."""
    docs = load_table(spark, sf, "documents")
    blobs = docs.select("doc_id", F.encode("text", "UTF-8").alias("blob"))
    return multimodal.sample_frames(blobs, "blob", "doc_id",
                                    n_frames=4, frame_bytes=8)


def _q_source_health(spark, sf):
    """Per-source corpus health rollup (operators/corpus.py source_health):
    two-level distinct counting, no Expand."""
    docs = load_table(spark, sf, "documents")
    return corpus.source_health(docs, "source", "text")


def _q_nanops_global(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return nanops.reduce_frame(li, {
        "l_quantity": ["sum", "mean", "std", "count"],
        "l_extendedprice": ["min", "max"],
        "l_discount": ["mean", "var"],
    })


def _q_nanops_rowwise(spark, sf):
    """axis=1 reductions (reference reduce_2d, nanops.py:146-179): null-skip
    folds across a row of columns — pure projection, zero shuffles. Nulls
    injected deterministically to exercise the skip path; min_count=2 guard
    demonstrated on a two-column sum."""
    li = load_table(spark, sf, "lineitem")
    a = F.when(F.col("l_linenumber") % 3 != 0, F.col("l_quantity"))
    b = F.when(F.col("l_partkey") % 5 != 0, F.col("l_discount"))
    df = li.select("l_orderkey", "l_linenumber", a.alias("a"),
                   b.alias("b"), F.col("l_tax").alias("c"))
    out = nanops.reduce_rowwise(df, ["a", "b", "c"],
                                ["sum", "mean", "min", "max", "count", "var"])
    return out.select(
        "l_orderkey", "l_linenumber",
        "row_sum", "row_mean", "row_min", "row_max", "row_count", "row_var",
        nanops.rownansum(["a", "b"], min_count=2).alias("sum_mc2"))


def _q_pretty_cut(spark, sf):
    # l_quantity is DOUBLE → reference uses float-style labels
    # ("10 - 25", no left+1; util.py:747-750)
    li = load_table(spark, sf, "lineitem").withColumn(
        "qty_bin", pretty_cut("l_quantity", [10, 25, 40], integer_data=False))
    return GroupBy(li, "qty_bin").agg({
        "n": ("size", ""), "sum_qty": ("sum", "l_quantity")})


def _q_bools_labels(spark, sf):
    li = load_table(spark, sf, "lineitem")
    li = li.withColumn("A", F.col("l_discount") > 0.05) \
           .withColumn("B", F.col("l_tax") > 0.04) \
           .withColumn("flag_label", bools_to_categorical(["A", "B"]))
    return GroupBy(li, "flag_label").size()


def _q_lincomb(spark, sf):
    li = load_table(spark, sf, "lineitem")
    return li.agg(F.sum(
        linear_combination({"l_quantity": 2.0, "l_discount": -1.0})
    ).alias("lincomb_sum"))


def _q_scatter_fit(spark, sf):
    """Compound gate (r10 registry consolidation — folds the former
    scatter_bins / scatter_bins_approx / linear_fit entries): GroupScatter's
    exact ntile binning and its scale path (exact quantile cutpoints via
    approxQuantile(relative_error=0) + map-side bucketing, no global sort;
    ties bucket together — documented divergence from ntile) tag-unioned,
    with the distributed-moments regression line (cov/var closed form, one
    aggregation pass) cross-joined as constant columns so all three
    operators stay value-checked by the one oracle."""
    li = load_table(spark, sf, "lineitem")
    ex = binned_scatter_stats(li, "l_extendedprice", "l_quantity", n_bins=20,
                              tiebreak=["l_orderkey", "l_linenumber"]
                              ).withColumn("method", F.lit("ntile"))
    ap = binned_scatter_stats(li, "l_extendedprice", "l_quantity", n_bins=20,
                              method="cutpoints"
                              ).withColumn("method", F.lit("cutpoints"))
    fit = li.agg(
        (F.avg("l_extendedprice") - (F.covar_samp("l_quantity", "l_extendedprice")
                                     / F.var_samp("l_quantity")) * F.avg("l_quantity")
         ).alias("intercept"),
        (F.covar_samp("l_quantity", "l_extendedprice")
         / F.var_samp("l_quantity")).alias("slope"),
    )
    return ex.unionByName(ap).crossJoin(F.broadcast(fit))


def _q_shift_masked(spark, sf):
    """Masked shift/diff: lag over UNMASKED observations only, NULL at
    masked rows (reference numba.py:1534-1583 circular-buffer kernel)."""
    ev = load_table(spark, sf, "events")
    g = GroupBy(ev, "user_id", order_by=["ts", "event_id"])
    m = F.col("event_type") != "error"
    sh = g.shift("value", mask=m).select("event_id", "user_id", "value_shift")
    d = g.diff("value", mask=m).select("event_id", "value_diff")
    return sh.join(d, "event_id")


def _q_observed_only_false(spark, sf):
    cust = load_table(spark, sf, "customer")
    return GroupBy(cust, ["c_mktsegment", "c_nationkey"]).agg(
        {"n": ("size", ""), "total_acctbal": ("sum", "c_acctbal")},
        observed_only=False)


def _q_segment_revenue(spark, sf):
    """Star-schema join + agg: revenue per market segment — the reference has
    no joins (SURVEY §2.11); this is the Spark-native pass-through at 100 TB
    shape.

    Join strategy: orders is FACT-proportional (lineitem/4 rows — billions at
    100 TB), so lineitem ⋈ orders is a plain shuffled equi-join on the order
    key and AQE picks SMJ/SHJ (or converts to broadcast at small SF where
    orders fits — the runtime decision is exactly what we want; a forced
    broadcast was the r2 plan's one scale-killer). customer ⋈ orders likewise
    stays a plain join: customer also scales with SF, and AQE's
    size-threshold broadcast conversion handles the small-SF case without
    hard-coding an OOM at scale."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    # Pre-aggregate the FACT side to order grain BEFORE any join (r5): the
    # per-order rollup needs nothing from the dimensions, so rolling up
    # first shrinks the join's probe side ~4x (lineitems -> orders) and the
    # rollup's exchange replaces — not adds to — the old post-join
    # (segment, orderkey) exchange: the aggregate's hashpartitioning on the
    # order key is exactly the join's requirement, so the big side arrives
    # at the join pre-shuffled. The fine level accumulates 1e-6-grain
    # scaled LONGs (order-independent, ~40% faster than decimal buffers on
    # the fact-sized level; bounded by ~7 lineitems/order so overflow-safe
    # at any corpus size); only the orders-sized coarse level pays decimal
    # accumulation. Two-level composition also replaces count(DISTINCT) —
    # the Expand rewrite would double every fact row through the aggregate.
    li_rev = li.withColumn(
        "revenue", F.col("l_extendedprice") * (1 - F.col("l_discount")))
    per_order = GroupBy(li_rev, "l_orderkey").agg({
        "rev": ("dsum_scaled", "revenue"),
        "n": ("size", ""),
    })
    joined = (
        per_order
        .join(orders.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    return GroupBy(joined, "c_mktsegment").agg({
        "revenue": ("dsum_unscale", "rev"),
        "n_orders": ("size", ""),
        "n_lineitems": ("sum", "n"),
    })


def _ensure_bucketed_facts(spark, sf):
    """Ensure (once per WAREHOUSE, not per session) narrow bucketed copies
    of the two fact tables, co-bucketed on the order key — the
    pre-shuffled layout a 100 TB deployment would maintain so the
    fact⋈fact join never shuffles.

    Steady state across sessions (r7): the layout plus a sidecar JSON
    (bucket count) survives in the warehouse dir, and a fresh driver
    session RE-REGISTERS the existing files as external bucketed tables
    (``CREATE TABLE ... CLUSTERED BY ... LOCATION``) instead of
    rewriting the fact — a standing warehouse maintains its hottest
    layout, it does not recreate it per client (the sf100 layout build
    is ~19 min; the reattach is a DDL statement). Spark reads bucket
    ids from the saveAsTable file-name convention, so the reattached
    table gets the same exchange-free join plans."""
    import json as _json
    import os as _os
    import re as _re
    from urllib.parse import urlparse as _urlparse
    tag = _re.sub(r"[^0-9A-Za-z]+", "_", sf.rstrip("/").rsplit("/", 1)[-1])
    li_t, ord_t = f"pps_bkt_lineitem_{tag}", f"pps_bkt_orders_{tag}"
    from pandas_plus_spark.sources import write_bucketed

    wh = _urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    meta_path = f"{wh}/pps_bkt_meta_{tag}.json"

    def _clear_stale_location(table: str) -> None:
        # a previous session's table data may survive in the warehouse dir
        # while the in-memory catalog entry did not — saveAsTable then
        # fails with LOCATION_ALREADY_EXISTS even in overwrite mode
        import shutil
        shutil.rmtree(f"{wh}/{table}", ignore_errors=True)

    def _reattach(table: str, key: str, cols) -> None:
        ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in cols)
        spark.sql(
            f"CREATE TABLE {table} ({ddl}) USING parquet "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) "
            f"INTO {n_buckets} BUCKETS LOCATION '{wh}/{table}'")

    if not spark.catalog.tableExists(li_t):
        li = (load_table(spark, sf, "lineitem")
              .select("l_orderkey", "l_extendedprice", "l_discount"))
        orders = load_table(spark, sf, "orders").select(
            "o_orderkey", "o_custkey")
        if (_os.path.exists(meta_path)
                and _os.path.isdir(f"{wh}/{li_t}")
                and _os.path.isdir(f"{wh}/{ord_t}")):
            n_buckets = _json.load(open(meta_path))["n_buckets"]
            _reattach(li_t, "l_orderkey", li.schema.fields)
            _reattach(ord_t, "o_orderkey", orders.schema.fields)
            return li_t, ord_t
        # Bucket count must SCALE with the fact: a fixed count caps the
        # exchange-free join's parallelism at n_buckets tasks forever (8
        # buckets at sf10 ran the 60M-row join on 8 of 32 cores). Size it
        # at ~2M fact rows per bucket, floor 8 — both tables must share the
        # count for co-bucketing, so it derives from lineitem alone.
        n_buckets = max(8, li.count() // 2_000_000 + 1)
        _clear_stale_location(li_t)
        write_bucketed(li, li_t, "l_orderkey", n_buckets,
                       sort_by="l_orderkey", mode="overwrite")
        if spark.catalog.tableExists(ord_t):
            spark.sql(f"DROP TABLE {ord_t}")  # re-pair with the new count
        _clear_stale_location(ord_t)
        write_bucketed(
            orders, ord_t, "o_orderkey", n_buckets, sort_by="o_orderkey",
            mode="overwrite")
        with open(meta_path, "w") as fh:
            _json.dump({"n_buckets": int(n_buckets)}, fh)
    return li_t, ord_t


def _q_segment_revenue_bucketed(spark, sf):
    """segment_revenue over CO-BUCKETED fact tables: lineitem and orders are
    stored bucketed(8) on the order key, so the fact⋈fact equi-join reads
    both sides' distribution straight from the layout — ZERO Exchange on
    the join (asserted in tests/test_sinks.py; plan in PLANS.md). The
    per-(segment, orderkey) pre-aggregation ALSO rides the bucket layout:
    HashPartitioning(o_orderkey) clusters every (segment, orderkey) group,
    so the fine-level agg is exchange-free too — the only shuffle left in
    the whole query is the segment-sized coarse agg. This is the layout a
    standing 100 TB warehouse maintains for its hottest join."""
    li_t, ord_t = _ensure_bucketed_facts(spark, sf)
    li = spark.table(li_t)
    orders = spark.table(ord_t)
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    # Roll the fact up to ORDER GRAIN FIRST — exchange-free: the bucket
    # layout already clusters l_orderkey, so the rollup is a bucket-local
    # hash aggregate (no partial/final exchange), and its output keeps the
    # partitioning the join needs. r7 measurement at sf100: joining the
    # RAW 600M-row fact to orders first cost 152 s (the co-bucketed SMJ
    # per-bucket-sorts the whole fact — the sort costs more than the
    # exchange the layout saves), vs 99 s for the rollup-first shuffle
    # formulation; rollup-first ON the layout gets both wins (join input
    # shrinks 4x to order grain AND stays exchange-free).
    per_order = GroupBy(
        li.withColumn("revenue",
                      F.col("l_extendedprice") * (1 - F.col("l_discount"))),
        "l_orderkey",
    ).agg({
        "rev": ("dsum_scaled", "revenue"),
        "n": ("size", ""),
    })
    joined = (per_order
              .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")))
    return GroupBy(joined, "c_mktsegment").agg({
        "revenue": ("dsum_unscale", "rev"),
        "n_orders": ("size", ""),
        "n_lineitems": ("sum", "n"),
    })


def _q_nation_revenue(spark, sf):
    """Multi-hop broadcast: lineitem ⋈ supplier ⋈ nation ⋈ region."""
    li = load_table(spark, sf, "lineitem")
    supp = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    dims = (supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .select("s_suppkey", "n_name", "r_name"))
    joined = joins.broadcast_dim_join(
        li.withColumn("revenue", F.col("l_extendedprice") * (1 - F.col("l_discount"))),
        dims, on=[F.col("l_suppkey") == F.col("s_suppkey")])
    # hierarchical exact sum (r4): fine level keyed by supplier (bounded
    # rows/group: lineitems-per-supplier stays far inside the scaled-long
    # envelope even at 100 TB), coarse decimal level is supplier-sized.
    per_supp = GroupBy(joined, ["r_name", "n_name", "s_suppkey"]).agg({
        "rev": ("dsum_scaled", "revenue")})
    return GroupBy(per_supp, ["r_name", "n_name"]).agg({
        "revenue": ("dsum_unscale", "rev")})


def _q_asof_join(spark, sf):
    """As-of join: for every event, the most recent purchase by the same
    user at or before it."""
    ev = load_table(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts",
        F.col("event_id").alias("purchase_event_id"),
        F.col("value").alias("purchase_value"),
    )
    out = joins.asof_join(ev, purchases, on="ts", by="user_id",
                          right_cols=["purchase_event_id", "purchase_value"],
                          suffix="")
    return out.select("event_id", "user_id", "purchase_event_id", "purchase_value")


def _q_asof_nearest(spark, sf):
    """Nearest-direction as-of join (pandas merge_asof direction='nearest'
    parity): every event matched to the CLOSEST purchase by the same user
    in either time direction, ties to backward. One hash exchange on the
    by key; both candidate windows sort the same partitions."""
    ev = load_table(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts",
        F.col("event_id").alias("purchase_event_id"),
        F.col("value").alias("purchase_value"),
    )
    out = joins.asof_join(ev, purchases, on="ts", by="user_id",
                          right_cols=["purchase_event_id", "purchase_value"],
                          direction="nearest", suffix="")
    return out.select("event_id", "user_id", "purchase_event_id", "purchase_value")


def _q_interval_join(spark, sf):
    """Bucketed point-in-interval join: session intervals (from the session
    operator) joined back to events by containment — every event must land
    in exactly one of its user's sessions."""
    ev = load_table(spark, sf, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
    sessions = (GroupBy(ev, "user_id")
                .group_nearby_members("ts_us", max_diff=1_800_000_000)
                .groupBy("user_id", "session_id")
                .agg(F.min("ts_us").alias("s_start"), F.max("ts_us").alias("s_end")))
    out = joins.interval_join(
        ev.select("event_id", "user_id", "ts_us"), sessions,
        point_col="ts_us", start_col="s_start", end_col="s_end",
        by="user_id", bucket_width=3_600_000_000,
        right_cols=["session_id"],
    )
    return out.select("event_id", "user_id", "session_id")


def _q_apply_zscore(spark, sf):
    """Per-group pandas UDF (applyInPandas) — z-score within group. The
    escape hatch the reference exposes as GroupBy.apply (api.py:358-403).
    r15: project the four columns the UDF reads BEFORE grouping —
    applyInPandas is a black box to Catalyst, so without the explicit
    select the grouping exchange and the Arrow JVM→Python transfer carry
    all 11 lineitem columns (l_comment dominating the bytes) for a
    function that touches 4 (guide §4.2/§2.2; plan ReadSchema 11 → 4
    columns). Output is identical."""
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")

    def zscore(pdf):
        out = pdf[["l_orderkey", "l_linenumber", "l_returnflag"]].copy()
        v = pdf["l_quantity"]
        out["qty_z"] = (v - v.mean()) / v.std(ddof=1)
        return out

    return GroupBy(li, "l_returnflag").apply(
        zscore,
        "l_orderkey long, l_linenumber int, l_returnflag string, qty_z double")


def _q_winnow(spark, sf):
    # heavy per-doc expressions: fan out first — single-row-group
    # fixture files scan as ONE task, and a projection computed on
    # the scan would run one-core (no-op on well-split input)
    docs = ensure_parallelism(load_table(spark, sf, "documents"))
    fps = tx.winnow_fingerprints(tx.simple_tokens(F.col("text")), window=4)
    return docs.select(
        "doc_id",
        F.size(fps).cast("long").alias("n_fingerprints"),
        F.get(fps, 0).alias("min_fp"),
        F.get(fps, F.size(fps) - 1).alias("max_fp"),
    )


# ---- documents / embeddings (training-data pipeline operators) -------- #

def _q_dedup_exact(spark, sf):
    docs = load_table(spark, sf, "documents")
    return dedup.exact_dedup(docs, "text", "doc_id")


def _q_token_stats(spark, sf):
    # heavy per-doc expressions: fan out first — single-row-group
    # fixture files scan as ONE task, and a projection computed on
    # the scan would run one-core (no-op on well-split input)
    docs = ensure_parallelism(load_table(spark, sf, "documents"))
    # long casts: DuckDB's len()/regexp counts are BIGINT; keep schemas
    # identical for strict schema comparison
    return docs.select(
        "doc_id",
        tx.token_count("text").cast("long").alias("n_tokens"),
        tx.bpe_ish_token_count("text").cast("long").alias("n_bpe_tokens"),
        tx.poly_hash("text").alias("fingerprint"),
    )


def _q_lang_pred(spark, sf):
    # heavy per-doc expressions: fan out first — single-row-group
    # fixture files scan as ONE task, and a projection computed on
    # the scan would run one-core (no-op on well-split input)
    docs = ensure_parallelism(load_table(spark, sf, "documents"))
    pred = docs.select(
        "lang", tx.lang_id(tx.simple_tokens(F.col("text"))).alias("pred_lang"))
    return GroupBy(pred, ["lang", "pred_lang"]).size()


def _q_quality(spark, sf):
    # heavy per-doc expressions: fan out first — single-row-group
    # fixture files scan as ONE task, and a projection computed on
    # the scan would run one-core (no-op on well-split input)
    docs = ensure_parallelism(load_table(spark, sf, "documents"))
    q = docs.select("source", tx.quality_score("text").alias("q"))
    return GroupBy(q, "source").agg({
        "avg_quality": ("mean", "q"), "n_docs": ("size", "")})


def _q_trigram_jaccard(spark, sf):
    docs = load_table(spark, sf, "documents")
    return dedup.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.3)


def _q_minhash_dedup(spark, sf):
    docs = load_table(spark, sf, "documents")
    return dedup.minhash_dedup(docs, "text", "doc_id", threshold=0.3,
                               num_hashes=16, bands=8)


# bench.py prices the seeded pipeline under its historical headline name
_q_minhash_neardup = _q_minhash_dedup


def _q_minhash_gate(spark, sf):
    """Compound gate (r12 registry consolidation — folds the former
    minhash_neardup rows-only entry into its value-checked poly twin, so
    every driver window row is value-checked): the ANSI-poly MinHash
    pipeline's verified pair rows (the exact oracle) PLUS invariants of
    the production xxhash64-seeded pipeline broadcast onto every row —
    seeded_recall_ok pins recall >= 0.5 of the seeded pairs against the
    exact trigram-Jaccard graph between exact-dup representatives
    (measured 1.0 at sf0.001 and sf0.01, r12), and seeded_verified_ok
    pins that every seeded pair really passed the exact-Jaccard verify
    stage. A broken seeded hash family, band join, or verify filter
    flips a flag and fails the hash; the seeded pipeline still executes
    in full every gate run. bench.py keeps pricing the seeded shape
    alone via the module-level _q_minhash_neardup callable."""
    docs = load_table(spark, sf, "documents")
    poly = _q_minhash_poly(spark, sf)
    seeded = _q_minhash_dedup(spark, sf)
    reps = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    exact = dedup.ngram_jaccard_pairs(reps, "text", "doc_id", 0.3)
    hits = (exact.select("id_a", "id_b")
            .join(seeded.select("id_a", "id_b").withColumn("__hit", F.lit(1)),
                  ["id_a", "id_b"], "left")
            .agg(F.count(F.lit(1)).alias("__n_exact"),
                 F.sum(F.coalesce("__hit", F.lit(0))).alias("__n_hit")))
    sstats = seeded.agg(F.min("jaccard").alias("__mn"))
    flags = hits.crossJoin(sstats).select(
        (F.col("__n_hit") * 2 >= F.col("__n_exact"))
        .alias("seeded_recall_ok"),
        F.coalesce(F.col("__mn") >= 0.3, F.lit(True))
        .alias("seeded_verified_ok"))
    out = poly.crossJoin(F.broadcast(flags))
    return attach_cached(out,
                         *getattr(poly, "_pps_cached", ()),
                         *getattr(seeded, "_pps_cached", ()),
                         *getattr(exact, "_pps_cached", ()))


def _q_simhash_gate(spark, sf):
    """Compound gate (r12 consolidation — folds the former
    simhash_candidates rows-only entry into its value-checked poly
    twin): the 24-bit ANSI-poly per-doc signatures (exact oracle rows)
    PLUS invariants of the seeded 64-bit simhash -> quadrant-bucket
    candidate join broadcast onto every row — cands_nonempty (measured
    ~14k candidate pairs at sf0.001, ~12k at sf0.01, r12),
    cands_quadrant_ok (every emitted pair re-verified to share a 16-bit
    quadrant when recomputed from the signatures — catches bucket-join
    key bugs, NOT a tautology because the check re-derives the quadrant
    values independently of the join keys), and cands_ordered_ok
    (id_a < id_b). The seeded signature + candidate pipeline executes in
    full every gate run."""
    docs = load_table(spark, sf, "documents")
    poly = _q_simhash_poly(spark, sf)
    sigs = dedup.simhash(docs, "text", "doc_id")
    cands = dedup.simhash_candidates(sigs)
    sa = sigs.select(F.col("id").alias("id_a"), F.col("simhash").alias("__sa"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("simhash").alias("__sb"))
    joined = cands.join(sa, "id_a").join(sb, "id_b")
    mask = F.lit((1 << 16) - 1)
    shares = None
    for q in range(4):
        eq = (F.shiftrightunsigned("__sa", q * 16).bitwiseAND(mask)
              == F.shiftrightunsigned("__sb", q * 16).bitwiseAND(mask))
        shares = eq if shares is None else (shares | eq)
    flags = joined.agg(
        (F.count(F.lit(1)) > 0).alias("cands_nonempty"),
        F.coalesce(F.min(shares.cast("int")) == 1, F.lit(True))
        .alias("cands_quadrant_ok"),
        F.coalesce(F.min((F.col("id_a") < F.col("id_b")).cast("int")) == 1,
                   F.lit(True)).alias("cands_ordered_ok"))
    out = poly.crossJoin(F.broadcast(flags))
    return attach_cached(out, *getattr(cands, "_pps_cached", ()))


def _q_minhash_poly(spark, sf):
    """Oracle-checkable LSH: identical pipeline to minhash_neardup but every
    hash is the ANSI poly hash, so DuckDB reproduces the exact values."""
    docs = load_table(spark, sf, "documents")
    return dedup.minhash_dedup(docs, "text", "doc_id", threshold=0.3,
                               num_hashes=8, bands=4, hash_fn="poly")


def _q_simhash_poly(spark, sf):
    docs = load_table(spark, sf, "documents")
    return dedup.simhash(docs, "text", "doc_id", bits=24, hash_fn="poly")


def _q_dup_clusters(spark, sf):
    """Connected components (min-label propagation) over the exact
    trigram-Jaccard near-dup graph — checked against a recursive-CTE
    transitive closure."""
    docs = load_table(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.2)
    return dedup.dup_clusters(pairs)


def _q_dedup_keep_list(spark, sf):
    """End-to-end corpus dedup keep-list: exact collapse → poly-hash MinHash
    LSH → Jaccard verify → connected components → keep cluster minima."""
    docs = load_table(spark, sf, "documents")
    return dedup.dedup_keep_list(docs, "text", "doc_id", threshold=0.3,
                                 num_hashes=8, bands=4, hash_fn="poly")


def _q_simhash_candidates(spark, sf):
    docs = load_table(spark, sf, "documents")
    sigs = dedup.simhash(docs, "text", "doc_id")
    return dedup.simhash_candidates(sigs)


def _cast_double_embeddings(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    return emb.withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double")))


def _q_knn(spark, sf):
    emb = _cast_double_embeddings(spark, sf)
    queries_df = emb.where(F.col("vec_id") < 10)
    return similarity.brute_force_knn(emb, queries_df, k=3)


def _q_cosine_neardup(spark, sf):
    """Exact all-pairs cosine near-dup (similarity.cosine_neardup_pairs,
    candidates=None): the VALIDATION-SCALE contract whose oracle is the
    all-pairs SQL — deliberately not LSH-routed, because the gate's job
    is to value-check the exact pair math (the LSH path has its own
    gates: semantic_lsh_recall, lsh_recall). The operator's intentional
    O(n²) RuntimeWarning is filtered HERE, at the gate that opted into
    the fallback, so real warnings in pytest/bench output stay visible."""
    import warnings

    emb = _cast_double_embeddings(spark, sf)
    with warnings.catch_warnings():
        warnings.filterwarnings(
            "ignore", message=".*cross-joins ALL pairs.*",
            category=RuntimeWarning)
        return similarity.cosine_neardup_pairs(emb, threshold=0.30)


def _q_lsh_buckets(spark, sf):
    emb = _cast_double_embeddings(spark, sf)
    return similarity.hyperplane_lsh_buckets(emb, n_planes=12)


def _q_ivf_knn(spark, sf):
    """IVF approximate nearest neighbors: k-means coarse quantizer, probe 4
    of 16 lists per query. Iterative (k-means) → no SQL oracle; the driver
    records the rows-only check."""
    emb = _cast_double_embeddings(spark, sf)
    queries_df = emb.where(F.col("vec_id") < 10)
    return similarity.ivf_knn(emb, queries_df, k=3, n_lists=16, n_probes=4)


def _ensure_ivf_index(spark, sf):
    """Build (once per session) the STORED IVF-ANN index — assignments +
    centroids written to parquet (similarity.IvfIndex), the standing-index
    layout for a continuously-queried embedding corpus. Returns paths."""
    import os
    import re as _re
    from urllib.parse import urlparse

    tag = _re.sub(r"[^0-9A-Za-z]+", "_", sf.rstrip("/").rsplit("/", 1)[-1])
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    base = os.path.join(wh, f"pps_ivfidx_{tag}")
    a_p, c_p = os.path.join(base, "assignments"), os.path.join(base, "centroids")
    marker = os.path.join(base, "_built")
    if not os.path.exists(marker):
        emb = _cast_double_embeddings(spark, sf)
        idx = similarity.ivf_build_index(emb, n_lists=16)
        idx.assignments.write.mode("overwrite").parquet(a_p)
        idx.centroids.write.mode("overwrite").parquet(c_p)
        os.makedirs(base, exist_ok=True)
        open(marker, "w").close()
    return a_p, c_p


def _q_ivf_index_gate(spark, sf):
    """Stored-index IVF equality gate: ivf_knn probing the parquet-stored
    index (steady state — corpus never re-clustered) must return EXACTLY
    the inline build's neighbors. One row of pinned invariants (the
    pca_gate pattern): row counts equal, zero (query, rank) cells
    disagreeing on neighbor or similarity."""
    a_p, c_p = _ensure_ivf_index(spark, sf)
    idx = similarity.IvfIndex(spark.read.parquet(a_p), spark.read.parquet(c_p))
    emb = _cast_double_embeddings(spark, sf)
    queries_df = emb.where(F.col("vec_id") < 10)
    inline = similarity.ivf_knn(emb, queries_df, k=3, n_lists=16, n_probes=4)
    stored = similarity.ivf_knn(emb, queries_df, k=3, n_probes=4, index=idx)
    j = (inline.select("query_id", "rank",
                       F.col("neighbor_id").alias("n_a"),
                       F.col("cos_sim").alias("s_a"))
         .join(stored.select("query_id", "rank",
                             F.col("neighbor_id").alias("n_b"),
                             F.col("cos_sim").alias("s_b")),
               ["query_id", "rank"], "full_outer"))
    return j.agg(
        (F.sum(((F.col("n_a").isNull()) | (F.col("n_b").isNull())
                | (F.col("n_a") != F.col("n_b"))
                | (F.abs(F.col("s_a") - F.col("s_b")) > 1e-12)).cast("long"))
         == 0).alias("identical"),
        (F.count(F.lit(1)) > 0).alias("nonempty"))


def _q_ann_recall(spark, sf):
    """ANN quality gate: recall@10 of ivf_knn vs brute_force_knn, computed
    in-engine (both sides deterministic — seeded IVF, id-tiebroken top-k).
    r12: this gate IS the registry coverage for the IVF path — the former
    rows-only ivf_knn entry retired because ann_recall_at_k executes
    ivf_knn in full every run; the
    oracle hash-checks that EVERY query meets the recall bar (measured
    0.80–1.0 per query at sf0.01 with 4/16 probes; the 0.5 gate leaves
    headroom for data drift without ever passing a broken index, which
    scores ~k/corpus)."""
    emb = _cast_double_embeddings(spark, sf)
    queries_df = emb.where(F.col("vec_id") < 10)
    rec = similarity.ann_recall_at_k(emb, queries_df, k=10,
                                     n_lists=16, n_probes=4)
    return rec.select("query_id", "n_exact",
                      (F.col("recall") >= 0.5).alias("recall_ok"))


_SKEW_ORDER = ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]


def _q_skew_topn_salted(spark, sf):
    """Top-n per key where ~97% of rows share ONE key — the skew stress.
    head(salt=32) fans the hot key's sort over 32 tasks (local top-n per
    (key, salt-bucket), exact top-n over the ≤ n·32 survivors)."""
    li = load_table(spark, sf, "lineitem").withColumn(
        "skew_key",
        F.when(F.col("l_orderkey") % 100 < 97, F.lit(0).cast("long"))
         .otherwise(F.lit(1) + F.pmod(F.col("l_orderkey"), F.lit(97))))
    g = GroupBy(li, "skew_key", order_by=_SKEW_ORDER)
    return g.head(3, salt=32).select("skew_key", *_SKEW_ORDER)


def _q_skew_topn_uniform(spark, sf):
    """The unskewed comparator for skew_topn_salted: same data volume,
    uniform key, plain per-key ranking."""
    li = load_table(spark, sf, "lineitem").withColumn(
        "skew_key", F.pmod(F.col("l_orderkey"), F.lit(97)))
    g = GroupBy(li, "skew_key", order_by=_SKEW_ORDER)
    return g.head(3).select("skew_key", *_SKEW_ORDER)


def _q_multimodal_meta(spark, sf):
    docs = load_table(spark, sf, "documents")
    # The stub decoder works on UTF-8 BYTES while the SQL oracle can only
    # address CHARACTERS (ascii()/length()); restrict to ASCII docs — where
    # the two coincide — so the parity dependency is explicit, not an
    # accident of the corpus (ADVICE r1 #5). ASCII ⇔ char len == byte len.
    docs = docs.filter(F.length("text") == F.octet_length("text"))
    blobs = docs.select("doc_id", F.encode("text", "UTF-8").alias("blob"))
    return multimodal.extract_image_features(blobs, "blob", "doc_id")


def _q_image_header_meta(spark, sf):
    """REAL image decode through the multimodal seam: deterministic
    PNG/BMP/GIF/JPEG header blobs are constructed per doc_id in an
    Arrow-batched mapInPandas (the binary column round-trips through
    Spark like any media payload), then extract_image_features parses
    width/height/channels from the ACTUAL container headers
    (multimodal.decode_image_header; JPEG via the SOFn marker-segment
    walk, both baseline SOF0 and progressive SOF2, with a JFIF APP0 the
    scan must hop over by its length field) — no codec library, pure
    byte arithmetic. The oracle recomputes the expected dimensions from
    the same doc_id arithmetic, so a parse-offset bug (endianness, chunk
    offset, color-type map, marker-walk stride) fails the hash, not just
    a unit test. r9: extended to all SIX shipped containers — WebP (RIFF
    chunk walk; VP8X-alpha, lossy VP8 sync-code, lossless VP8L packed
    sizes all exercised) and AVIF (ISO-BMFF meta/iprp/ipco/ispe chain) —
    so decode_image_stub's fake seam is unreachable for every shipped
    format."""
    import pandas as _pd

    from pandas_plus_spark.operators.multimodal import (
        avif_header_bytes, bmp_header_bytes, gif_header_bytes,
        jpeg_header_bytes, png_header_bytes, webp_header_bytes)

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 200).select("doc_id"))

    def make(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = did % 300 + 1, (did * 3) % 200 + 1
                m6 = did % 6
                if m6 == 0:
                    blobs.append(
                        png_header_bytes(w, h, 6 if did % 12 == 6 else 2))
                elif m6 == 1:
                    blobs.append(bmp_header_bytes(w, h))
                elif m6 == 2:
                    blobs.append(gif_header_bytes(w, h))
                elif m6 == 3:
                    blobs.append(jpeg_header_bytes(
                        w, h, 1 if did % 12 == 3 else 3,
                        progressive=(did % 12 == 9)))
                elif m6 == 4:
                    k = did % 18
                    if k == 4:
                        blobs.append(webp_header_bytes(
                            w, h, alpha=True, kind="vp8x"))
                    elif k == 10:
                        blobs.append(webp_header_bytes(w, h, kind="vp8"))
                    else:
                        blobs.append(webp_header_bytes(
                            w, h, alpha=True, kind="vp8l"))
                else:
                    blobs.append(avif_header_bytes(w, h))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    blobs_df = docs.mapInPandas(make, "doc_id long, blob binary")
    feats = multimodal.extract_image_features(blobs_df, "blob", "doc_id")
    return feats.select("doc_id", "width", "height", "n_channels")


def _q_image_phash_dedup(spark, sf):
    """Perceptual image dedup over REAL pixels: deterministic 24-bit BMPs
    (gradient (a·x + b·y) mod 200 + brightness c, params from doc_id; the
    second hundred docs are brightness-shifted copies of the first) are
    built in mapInPandas, pixel-DECODED from the actual BMP bytes
    (bottom-up rows, stride padding — multimodal.decode_bmp_pixels), then
    aHash/dHash (integer 8x8 / 8x9 nearest-neighbor grids) and banded
    Hamming near-dup pairs (dedup.hamming_pairs: bands derived from
    max_dist — 7 bands of 9 bits for the xor bit_count ≤ 6 contract, so
    recall is guaranteed by pigeonhole). Ships per-doc
    (ahash, dhash, n_dups). The oracle recomputes every hash bit
    CLOSED-FORM from the pixel arithmetic and joins pairs EXHAUSTIVELY
    (no banding) — a decode-offset, row-order, resample, threshold,
    bit-packing, or distance bug fails the hash, and any banding
    under-recall in the engine fails the pair counts. Four doc groups:
    0-99 BMP originals, 100-199 brightness-shifted BMP copies
    (aHash/dHash are brightness-shift invariant -> distance-0 pairs),
    200-299 column-0 stripe perturbations of the originals (measured
    spread: Hamming 0-9, 43 pairs in the 4-6 boundary band the old fixed
    16-bit banding silently missed — r10 ADVICE fix), 300-399 PNG
    re-encodings of the originals (zlib + per-doc filter type,
    multimodal.decode_png_pixels — the second REAL pixel path, r10) and
    400-499 GIF re-encodings (real LZW decode + 4-pass de-interlacing,
    multimodal.decode_gif_pixels — the third, r10); both re-encoded
    groups must land at distance 0 from their BMP twins. r11 adds the
    fourth and final REAL pixel path — baseline JPEG (entropy-coded
    streams from the real encoder: canonical Huffman, byte stuffing,
    Huffman decode + dequant + numpy IDCT on the way back,
    multimodal.decode_jpeg_pixels): 500-599 are JPEG originals over an
    8x8-BLOCK-snapped gradient (block-constant + gray-valued, so the
    flat-DC-8 quant table roundtrips bit-exactly — the closed form the
    oracle recomputes), cycling all three encode modes
    (gray / 4:4:4 / 4:2:0 per doc_id % 3), 600-699 are
    brightness-shifted JPEG copies that must land at distance 0 from
    their 500-group twins, and 700-799 are PROGRESSIVE (SOF2: spectral
    selection + successive approximation, DC/AC refinement scans, EOB
    runs) re-encodings of the 500 content — progressive re-encodes the
    same quantized coefficients, so they must decode pixel-identical
    and pair with the 500s at distance 0. The documents table only
    carries 500 ids at the gate SF, so the three JPEG groups are FANNED
    OUT by the blob builder (mapInPandas emits doc_id+500/600/700 rows
    for each doc_id < 100); the oracle mirrors with UNION ALL id
    shifts."""
    import pandas as _pd

    from pandas_plus_spark.operators.multimodal import (bmp_pixel_bytes,
                                                        gif_pixel_bytes,
                                                        jpeg_pixel_bytes,
                                                        png_pixel_bytes)

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 500).select("doc_id"))

    def _blob(did: int) -> bytes:
        a = 2 + (did % 100) % 9
        b = 3 + (did % 100) % 7
        c = 30 if 100 <= did < 200 or did >= 600 else 10
        stripe = 40 if 200 <= did < 300 else 0
        snap = 8 if did >= 500 else 1

        def fn(x, y, a=a, b=b, c=c, stripe=stripe, snap=snap):
            xs = snap * (x // snap)
            ys = snap * (y // snap)
            v = (a * xs + b * ys) % 200 + c + (stripe if x == 0 else 0)
            return (v, v, v)

        if did >= 500:
            return jpeg_pixel_bytes(
                32, 20, fn, mode=("gray", "444", "420")[did % 3],
                progressive=did >= 700)
        if did >= 400:
            return gif_pixel_bytes(32, 20, fn, interlace=did % 2 == 0)
        if did >= 300:
            return png_pixel_bytes(32, 20, fn, filters=did % 5)
        return bmp_pixel_bytes(32, 20, fn)

    def make(batches):
        for pdf in batches:
            ids, blobs = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                ids.append(did)
                blobs.append(_blob(did))
                if did < 100:                    # JPEG fan-out groups
                    for shift in (500, 600, 700):
                        ids.append(did + shift)
                        blobs.append(_blob(did + shift))
            yield _pd.DataFrame({"doc_id": _pd.Series(ids, dtype="int64"),
                                 "blob": blobs})

    blobs_df = docs.mapInPandas(make, "doc_id long, blob binary")
    hashes = multimodal.extract_perceptual_hashes(blobs_df, "blob", "doc_id")
    pairs = dedup.hamming_pairs(hashes, "ahash", "doc_id", max_dist=6)
    cnt = (pairs.select(F.col("id_a").alias("doc_id"))
           .unionAll(pairs.select(F.col("id_b").alias("doc_id")))
           .groupBy("doc_id").agg(F.count(F.lit(1)).alias("__nd")))
    out = (hashes.join(cnt, "doc_id", "left")
           .select("doc_id", "ahash", "dhash",
                   F.coalesce("__nd", F.lit(0)).cast("long").alias("n_dups")))
    return attach_cached(out, *getattr(pairs, "_pps_cached", ()))



def _q_robots_filter(spark, sf):
    """robots.txt compliance filtering (r11 — RFC 9309 semantics through
    the crawl-curation family): deterministic per-domain robots bodies
    (7 fixture domains; d % 3 == 0 gets a Disallow-prefix +
    longer-Allow-override pair, d % 3 == 1 gets a wildcard + end-anchor
    pattern, d % 3 == 2 publishes no robots at all — the RFC
    fully-allowed default) are broadcast-joined to 400 URLs whose paths
    cycle five shapes, then functions.robots.filter_robots parses each
    body once per domain and longest-matches each path in one
    Arrow-batched mapInPandas. The oracle recomputes every verdict
    closed-form from the same doc_id arithmetic — a group-selection,
    longest-match precedence, wildcard, anchor, or missing-robots
    default bug flips a flag and fails the hash."""
    import pandas as _pd

    from pandas_plus_spark.functions.robots import filter_robots

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 400).select("doc_id"))
    d = F.col("doc_id") % 7
    pc = F.col("doc_id") % 5
    path = (F.when(pc == 0, F.concat(F.lit("/p"), d, F.lit("/a"),
                                     F.col("doc_id")))
            .when(pc == 1, F.concat(F.lit("/p"), d, F.lit("/ok/b"),
                                    F.col("doc_id")))
            .when(pc == 2, F.concat(F.lit("/qq"), F.col("doc_id"),
                                    F.lit("z")))
            .when(pc == 3, F.concat(F.lit("/qq"), F.col("doc_id")))
            .otherwise(F.concat(F.lit("/plain/"), F.col("doc_id"))))
    host = F.concat(F.lit("site"), d, F.lit(".example"))
    urls = docs.select(
        "doc_id", host.alias("host"),
        F.concat(F.lit("http://"), host, path).alias("url"))
    rob_rows = []
    for dd in range(7):
        if dd % 3 == 0:
            rob_rows.append((f"site{dd}.example",
                             f"User-agent: *\nDisallow: /p{dd}/\n"
                             f"Allow: /p{dd}/ok/\n"))
        elif dd % 3 == 1:
            rob_rows.append((f"site{dd}.example",
                             "User-agent: specialbot\nDisallow: /\n\n"
                             "User-agent: *\nDisallow: /qq*z$\n"))
    robots = spark.createDataFrame(
        _pd.DataFrame(rob_rows, columns=["host", "robots_txt"]))
    out = filter_robots(urls, robots, keep_disallowed=True)
    return out.select("doc_id", "url", "robots_allowed")



def _q_pdf_text_extract(spark, sf):
    """PDF text-layer extraction (r11 — the document-corpus front door,
    operators/pdftext): complete spec-layout PDFs (catalog -> pages ->
    page -> content streams, valid xref) are built per doc_id with
    1-3 pages x 2-3 lines, rotating the real-world show forms — hex
    strings (doc_id % 4 == 1), kerned TJ arrays (% 4 == 2), literal
    strings with escaped parens + backslash (every line 1) — and
    FlateDecode compression on 4 of 5 docs. r12 adds embedded-font
    character mapping: doc_id % 4 == 3 writes every show string in a
    CUSTOM 1-byte code space ((ord+13)%256) and % 4 == 0 in a 2-byte
    code space (0x0400+ord), each with the /ToUnicode CMap
    (bfchar+bfrange, Flate-compressed stream) that maps the codes back
    — only a CMap-aware extractor recovers the text, and the oracle's
    closed form is UNCHANGED, so a CMap parse, font-resolution, Tf
    tracking, or code-width bug garbles half the corpus and fails the
    hash. extract_pdf_text walks the objects, inflates the streams
    with stdlib zlib, tokenizes the full string syntax and assembles
    Tj/TJ show text with Td/T* line breaks. The oracle rebuilds the
    canonical text closed-form from the same arithmetic — an escape,
    hex, TJ-array, inflate, line-break, or page-count bug fails the
    hash."""
    import pandas as _pd

    from pandas_plus_spark.operators.pdftext import (
        extract_pdf_text_features, pdf_bytes)

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 300).select("doc_id"))

    def make(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                npg, nln = 1 + did % 3, 2 + did % 2
                pages = []
                for pg in range(npg):
                    lines = []
                    for ln in range(nln):
                        if ln == 1:
                            lines.append(f"see (ref {did}) \\ end on"
                                         f" page {pg}")
                        else:
                            lines.append(f"Doc {did} page {pg} line {ln}")
                    pages.append(lines)
                blobs.append(pdf_bytes(
                    pages, compress=did % 5 != 0,
                    use_hex=did % 4 == 1, use_tj_array=did % 4 == 2,
                    tounicode={3: "bytes1", 0: "wide2"}.get(did % 4)))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    blobs_df = docs.mapInPandas(make, "doc_id long, blob binary")
    return extract_pdf_text_features(blobs_df, "blob", "doc_id")



def _q_sitemap_urls(spark, sf):
    """sitemap.xml URL discovery (r11 — the third crawl front-door leg,
    sources/sitemaps): per doc_id, every 7th doc is a <sitemapindex>
    (2-4 child sitemap locs) and the rest are <urlset> leaves (3-6 URLs
    with lastmod/changefreq/priority), gzipped as sitemap.xml.gz on
    every 3rd doc (magic-detected, stdlib-zlib inflated), with &
    characters in locs exercising XML escaping. extract_sitemap_entries
    tag-scans each blob in one Arrow-batched mapInPandas. The oracle
    rebuilds every entry closed-form — a gzip, escaping, field, kind,
    or fan-out bug fails the hash."""
    import pandas as _pd

    from pandas_plus_spark.sources.sitemaps import (
        extract_sitemap_entries, sitemap_bytes)

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 200).select("doc_id"))

    def make(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                gz = did % 3 == 0
                if did % 7 == 0:
                    kids = [f"http://site{did % 5}.example/sm{j}.xml"
                            for j in range(2 + did % 3)]
                    blobs.append(sitemap_bytes(kids, index=True,
                                               gzipped=gz))
                else:
                    urls = [{
                        "loc": (f"http://site{did % 5}.example/page"
                                f"{did}/{j}?a={j}&b={did}"),
                        "lastmod": f"2026-0{1 + j % 9}-15",
                        "changefreq": ("daily", "weekly",
                                       "monthly")[j % 3],
                        "priority": (j % 11) / 10.0,
                    } for j in range(3 + did % 4)]
                    blobs.append(sitemap_bytes(urls, gzipped=gz))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    blobs_df = docs.mapInPandas(make, "doc_id long, blob binary")
    return extract_sitemap_entries(blobs_df, "blob", "doc_id")



def _q_unicode_nfc(spark, sf):
    """Unicode NFC normalization (r11 — UAX #15 through an Arrow-batched
    pandas_udf seam, functions.text.unicode_normalize) with a fully
    INDEPENDENT oracle: the engine side runs Python's unicodedata (UCD
    tables), the oracle runs DuckDB's ICU-backed nfc_normalize — two
    implementations of the same standard that must agree bit-for-bit.
    Fixtures cycle composition shapes: combining acute, combining ring,
    Hangul jamo -> syllable composition, double-diacritic canonical
    ordering, and an already-composed idempotence case."""
    import pandas as _pd

    from pandas_plus_spark.functions.text import unicode_normalize

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 500).select("doc_id"))

    def make(batches):
        for pdf in batches:
            texts = []
            for did in pdf["doc_id"]:
                did = int(did)
                c = did % 5
                if c == 0:
                    mid = "Cafe" + chr(0x301)
                elif c == 1:
                    mid = "A" + chr(0x30A) + "ngstrom"
                elif c == 2:
                    mid = chr(0x1100) + chr(0x1161) + chr(0x11A8)
                elif c == 3:
                    mid = "o" + chr(0x308) + chr(0x304)
                else:
                    mid = chr(0xE9) + "tude"
                texts.append(f"Doc {did} {mid} end")
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "raw": texts})

    raw = docs.mapInPandas(make, "doc_id long, raw string")
    return raw.select("doc_id",
                      unicode_normalize("raw").alias("nfc_text"))



def _q_mojibake_repair(spark, sf):
    """Mojibake repair (r11 — functions.text.fix_mojibake, the
    conservative cp1252/UTF-8 roundtrip heuristic): per doc_id the
    fixture builds the BROKEN form of a closed-form clean string by
    actually round-tripping its UTF-8 bytes through cp1252 (the real
    corruption path), double-encoding every 9th affected doc; plain
    ASCII and genuinely-accented docs are passed through raw and must
    come back UNTOUCHED (the false-positive guard). The oracle is the
    clean closed form — an over-eager or under-eager repair fails the
    hash."""
    import pandas as _pd

    from pandas_plus_spark.functions.text import fix_mojibake

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 500).select("doc_id"))

    def make(batches):
        for pdf in batches:
            raws = []
            for did in pdf["doc_id"]:
                did = int(did)
                c = did % 5
                if c == 0:
                    clean = "caf" + chr(233)
                elif c == 1:
                    clean = "it" + chr(8217) + "s"
                elif c == 2:
                    clean = chr(252) + "ber"
                elif c == 3:
                    clean = "plain"
                else:
                    clean = chr(233) + "tude"
                raw = f"Doc {did} {clean}"
                if c < 3:
                    raw = raw.encode("utf-8").decode("cp1252")
                    if did % 9 == 0:
                        raw = raw.encode("utf-8").decode("cp1252")
                raws.append(raw)
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "raw": raws})

    raw = docs.mapInPandas(make, "doc_id long, raw string")
    return raw.select("doc_id", fix_mojibake("raw").alias("fixed"))



def _q_bpe_train_distributed(spark, sf):
    """Corpus-scale BPE training (r14 — functions/bpe
    train_bpe_distributed): the counting pass runs DISTRIBUTED (one
    Arrow pretokenize map pass, one map-side-combined type-keyed
    shuffle) and only the Zipf-bounded word-TYPE frequency table
    reaches the driver's greedy merge loop — every byte of the corpus
    is seen without collecting documents. The gate value-checks BOTH
    contracts at once: n_merge_diff pins the distributed trainer's
    merge table BIT-EQUAL to the sample trainer's on the same corpus
    (shared _greedy_merges, deterministic lexicographic tie-break;
    train_bpe's 100k-doc cap does not bind at gate SF), and roundtrip
    pins losslessness of encode/decode under the distributed table."""
    from pandas_plus_spark.functions.bpe import (bpe_decode, bpe_encode,
                                                 train_bpe,
                                                 train_bpe_distributed)

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    m_dist = train_bpe_distributed(docs, "text", vocab_size=384)
    m_drv = train_bpe(docs, "text", vocab_size=384)
    n_diff = (sum(1 for a, b in zip(m_dist, m_drv) if a != b)
              + abs(len(m_dist) - len(m_drv)))
    return docs.select(
        "doc_id",
        bpe_decode(bpe_encode("text", m_dist), m_dist).alias("roundtrip"),
        F.lit(n_diff).alias("n_merge_diff"))


def _q_bpe_roundtrip(spark, sf):
    """Real byte-level BPE tokenizer (r11 — functions/bpe, the trained
    replacement for the bpe_ish regex stand-in): merges are learned
    from the documents corpus itself (deterministic greedy pair
    merging, lexicographic tie-break, bounded hash-deterministic
    sample collect — the one documented driver-side step, as in real
    tokenizer training), then encoding and decoding run as
    Arrow-batched pandas_udfs over the full table. The gate checks the
    LOSSLESSNESS CONTRACT: the pre-tokenizer partitions the string
    (letter/digit/whitespace runs + single others, nothing dropped)
    and tokens are byte sequences within segments, so
    decode(encode(text)) must equal the original text byte-for-byte —
    the oracle is simply the text column. Token-id/count properties
    are pytest-pinned (not SQL-expressible)."""
    from pandas_plus_spark.functions.bpe import (bpe_decode, bpe_encode,
                                                 train_bpe)

    docs = load_table(spark, sf, "documents").select("doc_id", "text")
    merges = train_bpe(docs, "text", vocab_size=384)
    return docs.select(
        "doc_id",
        bpe_decode(bpe_encode("text", merges), merges).alias("roundtrip"))



def _q_outlink_graph(spark, sf):
    """Outlink extraction + RFC 3986 resolution (r11 — the crawl
    frontier / link-graph builder, functions.urls.extract_links): per
    doc the fixture HTML embeds six href shapes — absolute
    (double-quoted), rooted (single-quoted), relative,
    protocol-relative, javascript: and a bare fragment — built
    JVM-side with concat; extraction (regexp_extract_all), per-element
    resolution (transform + try_parse_url CASE logic) and the explode
    are ALL whole-stage codegen, no Python anywhere. The oracle
    rebuilds the four expected resolved links per doc closed-form (the
    two non-navigational shapes must be dropped) — a quoting, base-
    directory, origin, scheme-inherit or filter bug changes the rows."""
    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 400).select("doc_id"))
    did = F.col("doc_id")
    base = F.concat(F.lit("https://site"), did % 7, F.lit(".example/dir"),
                    did % 4, F.lit("/page.html"))
    html = F.concat(
        F.lit('<a href="http://ext'), did % 3, F.lit(".org/a"), did,
        F.lit('">x</a> <a href=\'/r'), did, F.lit("\'>y</a> "),
        F.lit('<a href="sub/p'), did, F.lit('.html">z</a> '),
        F.lit('<a href="//cdn'), did % 2, F.lit('.example/c">w</a> '),
        F.lit('<a href="javascript:void(0)">j</a> '),
        F.lit('<a href="#top">f</a>'))
    pages = docs.select("doc_id", base.alias("url"), html.alias("html"))
    from pandas_plus_spark.functions.urls import extract_links
    return extract_links(pages, "html", "url", "doc_id")


def _q_video_frame_sample(spark, sf):
    """REAL video frame sampling (r10 AVI + r11 MP4 — both byte-window
    fakes retired): doc_id < 120 builds deterministic AVI/MJPEG
    containers (spec hdrl/strl/movi layout) and 120-239 builds
    deterministic MP4s (ftyp + mdat + trailing moov whose
    stsd/stts/stsc/stsz/stco sample tables index the frames, packed 3
    samples per chunk so the stsc run expansion is exercised), each
    holding 5-10 frames of 52-byte JPEG payloads. sample_video_frames
    dispatches on container magic, walks the ACTUAL RIFF chunk tree /
    ISO-BMFF sample tables to true frame boundaries, samples 3 evenly
    spaced frames, parses each REAL frame's JPEG SOF dimensions, and
    md5-hashes the exact payload bytes. The oracle rebuilds every
    sampled frame's bytes in SQL (hex-literal JPEG prelude + computed
    dims + the ASCII tail) and applies DuckDB's md5 — a chunk-walk /
    sample-table offset, alignment, sampling-schedule, or extraction
    bug fails the hash."""
    import pandas as _pd

    from pandas_plus_spark.operators.multimodal import (avi_mjpeg_bytes,
                                                        jpeg_header_bytes,
                                                        mp4_mjpeg_bytes)

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 240).select("doc_id"))

    def make(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                n_f = 5 + did % 6
                w = 64 + (did % 8) * 16
                h = 48 + (did % 5) * 16
                frames = [jpeg_header_bytes(w, h)
                          + f"FRAME-{did:04d}-{i:02d}".encode()
                          for i in range(n_f)]
                gen = mp4_mjpeg_bytes if did >= 120 else avi_mjpeg_bytes
                blobs.append(gen(w, h, frames))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    blobs_df = docs.mapInPandas(make, "doc_id long, blob binary")
    return multimodal.sample_video_frames(blobs_df, "blob", "doc_id",
                                          n_frames=3)


_WAV_RATES = [8000, 16000, 22050, 44100]


def _q_wav_header_meta(spark, sf):
    """REAL audio decode through the multimodal seam: deterministic
    RIFF/WAVE headers (fmt + data chunk declarations; every 7th doc gets
    a leading JUNK chunk with an odd payload size, forcing the chunk walk
    to skip by declared length + word alignment) are built per doc_id in
    an Arrow-batched mapInPandas, then extract_audio_features parses
    sample rate / channels / bits / frame count from the ACTUAL chunk
    bytes (multimodal.decode_wav_header) — no codec library. The oracle
    recomputes the expected params from the same doc_id arithmetic, so an
    endianness, chunk-stride, or block-align bug fails the value hash."""
    import pandas as _pd

    from pandas_plus_spark.operators.multimodal import (
        wav_header_bytes, wav_header_bytes_junk)

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 200).select("doc_id"))

    def make(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                sr = _WAV_RATES[did % 4]
                ch = did % 2 + 1
                bits = 8 if did % 3 == 0 else 16
                nf = sr * (did % 5)
                gen = wav_header_bytes_junk if did % 7 == 0 else wav_header_bytes
                blobs.append(gen(sr, ch, bits, nf))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    blobs_df = docs.mapInPandas(make, "doc_id long, blob binary")
    return multimodal.extract_audio_features(blobs_df, "blob", "doc_id")


def _q_audio_pcm_features(spark, sf):
    """REAL audio SAMPLE decode (r10 — retires the header-only audio
    seam with the BMP-pixel pattern): deterministic 16-bit PCM WAV files
    are built per doc_id in mapInPandas — channel 0 a square wave
    (amplitude 1000+did, half-period 8+did%5), channel 1 an integer
    modular ramp ((i*k) % (2*A)) − A — then decode_wav_pcm reinterprets
    the actual interleaved little-endian payload bytes and
    extract_audio_pcm_features computes RMS/peak/ZCR per channel with an
    EXACT int64 squared-sample sum (one correctly-rounded double divide
    + sqrt). The waveforms are pure integer arithmetic, so the oracle
    recomputes every sample closed-form in SQL and replays the identical
    float expression shapes — an interleave, endianness, data-offset,
    sign, or accumulation bug fails the value hash. Every 11th doc below
    100 is a TRUNCATED container (header declares 16 frames, carries no
    payload): decode must drop it, not null-fill. r11 extends the gate
    to every PCM width the decoder now reads, as mono groups: 100-111
    8-bit unsigned (decoded centered, sample-128), 112-124 24-bit
    (3-byte sign-extended; amplitudes above the 16-bit range), 125-137
    32-bit int (5e7-amplitude square waves — the exact-int64
    accumulation guard territory), 138-149 IEEE float32 (dyadic m/64-1
    samples, so even the float64 accumulation is order-independent and
    the SQL oracle reproduces it bit-exactly)."""
    import numpy as _np
    import pandas as _pd

    from pandas_plus_spark.operators.multimodal import (
        wav_header_bytes, wav_pcm_bytes)

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 150).select("doc_id"))

    def make(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did < 100 and did % 11 == 10:
                    blobs.append(wav_header_bytes(8000, 1, 8, 16))
                    continue
                sr = 8000 + (did % 4) * 4000
                if did < 100:
                    n = 256 + (did % 7) * 16
                    i = _np.arange(n)
                    h, a0 = 8 + did % 5, 1000 + did
                    s0 = _np.where((i // h) % 2 == 0, a0, -a0)
                    k, a1 = 3 + did % 4, 500 + did
                    s1 = (i * k) % (2 * a1) - a1
                    blobs.append(wav_pcm_bytes(
                        sr, _np.column_stack([s0, s1])))
                    continue
                n = 200 + (did % 5) * 16
                i = _np.arange(n)
                if did < 112:                    # 8-bit unsigned mono
                    k = 3 + did % 5
                    s = (i * k + did) % 256 - 128
                    blobs.append(wav_pcm_bytes(sr, s, bits=8))
                elif did < 125:                  # 24-bit mono
                    a = 100000 + did * 37
                    k = 3 + did % 4
                    s = (i * k * 997) % (2 * a) - a
                    blobs.append(wav_pcm_bytes(sr, s, bits=24))
                elif did < 138:                  # 32-bit int mono
                    a = 50000000 + did
                    h = 8 + did % 5
                    s = _np.where((i // h) % 2 == 0, a, -a)
                    blobs.append(wav_pcm_bytes(sr, s, bits=32))
                else:                            # float32 mono (dyadic)
                    k = 3 + did % 4
                    s = ((i * k) % 129) / 64.0 - 1.0
                    blobs.append(wav_pcm_bytes(sr, s, bits=32,
                                               float_fmt=True))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    blobs_df = docs.mapInPandas(make, "doc_id long, blob binary")
    return multimodal.extract_audio_pcm_features(blobs_df, "blob", "doc_id")


def _q_mp4_header_meta(spark, sf):
    """REAL video-container decode through the multimodal seam:
    deterministic MP4 heads (ftyp + moov(mvhd + trak(tkhd)); every 5th
    doc uses the version-1 64-bit box layout) built per doc_id in
    mapInPandas, then extract_video_meta walks the ISO-BMFF box tree for
    width/height (16.16 fixed point) and timescale/duration
    (multimodal.decode_mp4_header). Oracle recomputes from the same
    doc_id arithmetic — a box-offset or fixed-point bug fails the hash."""
    import pandas as _pd

    from pandas_plus_spark.operators.multimodal import mp4_header_bytes

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 200).select("doc_id"))

    def make(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                w, h = (did % 8 + 1) * 160, (did % 8 + 1) * 90
                ts = 600 if did % 2 == 0 else 90000
                blobs.append(mp4_header_bytes(
                    w, h, ts * (did % 6), ts,
                    version=1 if did % 5 == 0 else 0))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    blobs_df = docs.mapInPandas(make, "doc_id long, blob binary")
    return multimodal.extract_video_meta(blobs_df, "blob", "doc_id")


def _q_media_meta(spark, sf):
    """Compound gate (r12 registry consolidation — folds the former
    wav_header_meta / mp4_header_meta near-twin entries, both the same
    build-blobs -> walk-container-bytes -> closed-form-oracle shape):
    one row per doc joining the REAL RIFF/WAVE chunk-walk audio params
    (JUNK-chunk skip, 8/16-bit, word alignment) with the REAL ISO-BMFF
    box-walk video params (16.16 fixed point, version-1 64-bit boxes).
    Both value checks survive in the one oracle; the folded shapes stay
    callable individually via the module-level _q_*_header_meta."""
    wav = _q_wav_header_meta(spark, sf).withColumnRenamed(
        "duration_ms", "wav_duration_ms")
    mp4 = _q_mp4_header_meta(spark, sf).withColumnRenamed(
        "duration_ms", "mp4_duration_ms")
    return wav.join(mp4, "doc_id")


def _q_warc_ingest(spark, sf):
    """REAL WARC ingestion through the crawl seam (sources/warc.py):
    deterministic spec-layout WARC response records — every 3rd as its
    own gzip member (the Common Crawl convention the parser must inflate
    member-by-member), every 5th a text/plain body, every 9th an HTTP
    404 — are built per doc_id in mapInPandas, then extract_warc_records
    walks the record grammar (version line, CRLF headers,
    Content-Length payload), splits the HTTP message, and tag-strips the
    HTML body. The oracle recomputes every field from the same doc_id
    arithmetic, so a header-offset, gzip-member, status-parse, or
    entity/whitespace bug in the text extraction fails the value hash."""
    import pandas as _pd

    from pandas_plus_spark.sources import warc as warc_mod

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 150).select("doc_id"))

    def make(batches):
        for pdf in batches:
            blobs = []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 5 == 0:
                    body, ctype = f"plain {did}", "text/plain"
                else:
                    body = (f"<html><body><h1>Doc {did}</h1>"
                            f"<p>token{did} &amp; tail</p></body></html>")
                    ctype = "text/html"
                blobs.append(warc_mod.warc_record_bytes(
                    f"http://site{did % 7}.example/doc/{did}",
                    f"2024-01-{did % 28 + 1:02d}T00:00:00Z",
                    body,
                    status=404 if did % 9 == 0 else 200,
                    gzip_member=(did % 3 == 0),
                    content_type=ctype,
                    record_id=f"<urn:uuid:{did}>"))
            yield _pd.DataFrame({"doc_id": pdf["doc_id"], "blob": blobs})

    blobs_df = docs.mapInPandas(make, "doc_id long, blob binary")
    return warc_mod.extract_warc_records(blobs_df, "blob", "doc_id")


def _url_fixture(d):
    """Deterministic messy-URL column off doc_id: mixed-case scheme/host,
    default and non-default ports, bare and real paths, queries,
    fragments, www prefixes, multi-part public suffixes."""
    from pandas_plus_spark.functions import urls as _u  # noqa: F401

    # r10: suffixes 8-11 exist ONLY in the full packaged PSL (not the old
    # curated subset): *.nagoya.jp wildcard, the !city.kawasaki.jp
    # exception, a 5-label private-section rule (exercises the derived
    # join depth — the old fixed max_suffix_labels=4 could never match
    # it), and a ccTLD second-level outside the subset
    suffix = F.element_at(
        F.array(F.lit("com"), F.lit("org"), F.lit("co.uk"), F.lit("io"),
                F.lit("com.au"), F.lit("gob.mx"), F.lit("github.io"),
                F.lit("ck"), F.lit("nagoya.jp"), F.lit("city.kawasaki.jp"),
                F.lit("s3.dualstack.eu-central-1.amazonaws.com"),
                F.lit("co.bw")), (d % 12 + 1).cast("int"))
    host = F.concat(
        F.when(d % 4 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("Site"), (d % 23).cast("string"), F.lit("."), suffix)
    scheme = F.when(d % 2 == 0, F.lit("HTTP")).otherwise(F.lit("https"))
    port = (F.when(d % 6 == 0,
                   F.when(d % 2 == 0, F.lit(":80")).otherwise(F.lit(":443")))
            .when(d % 6 == 3, F.lit(":8080")).otherwise(F.lit("")))
    path = F.when(d % 3 == 0, F.lit("/")).otherwise(
        F.concat(F.lit("/p/"), d.cast("string")))
    query = F.when(d % 5 == 0, F.concat(F.lit("?q="), d.cast("string"))
                   ).otherwise(F.lit(""))
    frag = F.when(d % 3 == 1, F.lit("#sec")).otherwise(F.lit(""))
    return F.concat(scheme, F.lit("://"), host, port, path, query, frag)


def _q_url_normalize(spark, sf):
    """URL curation column functions (functions/urls.py): host extraction
    (JVM parse_url), exact-URL-dedup normalization (lower scheme/host,
    default ports stripped, fragment dropped, bare path collapsed), and
    — r9 — the PSL-backed registrable domain (with_registrable_domain:
    broadcast rule-table joins, publicsuffix.org longest-match/wildcard/
    exception semantics). The fixture now covers suffixes the retired
    heuristic mislabeled: gob.mx (outside its 7-family set), github.io
    (private-section platform rule), and the *.ck wildcard (every
    second-level label a public suffix — [www.]siteN.ck pass through
    whole). The fixture URL is doc_id arithmetic, so the oracle
    CONSTRUCTS every expected output directly — the engine must PARSE
    its way to the same strings, which value-checks parse_url plumbing,
    the port/fragment rules, and the PSL join end to end."""
    from pandas_plus_spark.functions import urls

    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 400).select("doc_id"))
    url = _url_fixture(F.col("doc_id"))
    host = urls.url_host(url)
    base = docs.select(
        "doc_id",
        url.alias("raw_url"),
        urls.url_normalize(url).alias("norm_url"),
        host.alias("host"))
    return urls.with_registrable_domain(base, "host", out="domain")


def _q_crawl_domain_stats(spark, sf):
    """The composed crawl-curation entry: WARC records (the warc_ingest
    fixture pipeline) → target_uri → registrable domain → per-domain
    corpus stats (doc count, HTTP-200 count, payload bytes) — the frame
    the per-source guards (source_cap / temperature_mixture) consume.
    One map-side parse + one domain-keyed aggregate; no other shuffle."""
    from pandas_plus_spark.functions import urls

    recs = _q_warc_ingest(spark, sf)
    base = recs.select(urls.url_host(F.col("target_uri")).alias("host"),
                       "http_status", "n_payload_bytes")
    # PSL path (r9): the fixture hosts (siteN.example) have no PSL rule,
    # so the implicit * default applies and outputs are unchanged — this
    # re-gates the join machinery on the composed pipeline
    return (urls.with_registrable_domain(base, "host", out="domain")
            .select("domain", "http_status", "n_payload_bytes")
            .groupBy("domain")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum((F.col("http_status") == 200).cast("long"))
                 .alias("n_ok"),
                 F.sum("n_payload_bytes").alias("total_bytes")))


def _q_crawl_curation_pipeline(spark, sf):
    """The crawl front door END TO END in one plan — the composed analog
    of curation_pipeline for web data: WARC records (the warc_ingest
    fixture: per-record gzip members, HTTP split, tag-stripped text) →
    URL host → PSL registrable domain → per-doc disposition through the
    full curation ladder: HTTP-status gate, text-quality gate (min
    length), deterministic per-domain cap (cap_per_key, ≤12 docs), and
    the temperature mixture (alpha=0.5, budget 0.8) over the capped
    corpus. Every doc ships its verdict: keep / drop_status /
    drop_short / drop_domain_cap / drop_mixture — the frame a crawl
    curator actually materializes. Scale shape: the gates are map-side;
    the cap is one hash shuffle + rank; the mixture is a broadcast-probs
    map filter; the disposition joins are key-aligned with the cap's
    exchange (AQE reuses it). Oracle reconstructs every stage from the
    doc_id arithmetic + the affine-hash twins."""
    from pandas_plus_spark.functions import urls

    recs = _q_warc_ingest(spark, sf)
    base = urls.with_registrable_domain(
        recs.select("doc_id", "http_status", "text",
                    urls.url_host(F.col("target_uri")).alias("host")),
        "host", out="domain")
    ok = base.filter((F.col("http_status") == 200)
                     & (F.length("text") >= 12))
    capped = sampling.cap_per_key(ok, "domain", 12, "doc_id", seed=11)
    mixed = sampling.temperature_mixture(
        capped, "domain", "doc_id", alpha=0.5, budget_frac=0.8, seed=7)
    in_cap = capped.select("doc_id", F.lit(True).alias("__in_cap"))
    in_mix = mixed.select("doc_id", F.lit(True).alias("__in_mix"))
    return (base.join(in_cap, "doc_id", "left")
            .join(in_mix, "doc_id", "left")
            .select(
                "doc_id", "domain",
                F.when(F.col("http_status") != 200, F.lit("drop_status"))
                .when(F.length("text") < 12, F.lit("drop_short"))
                .when(F.col("__in_cap").isNull(), F.lit("drop_domain_cap"))
                .when(F.col("__in_mix").isNull(), F.lit("drop_mixture"))
                .otherwise(F.lit("keep")).alias("disposition")))


def _q_stratified_sample(spark, sf):
    """Deterministic per-stratum downsampling (operators/sampling.py):
    membership is a pure affine-hash function of doc_id, so a pushed-down
    filter with no shuffle selects IDENTICAL rows on any cluster size —
    unlike ``DataFrame.sampleBy``, which is stable only per partition
    layout. Oracle recomputes the hash in ANSI SQL."""
    docs = load_table(spark, sf, "documents")
    kept = sampling.stratified_sample(
        docs, "lang", {"en": 0.5, "es": 0.25}, "doc_id", seed=7)
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


def _q_split_assign(spark, sf):
    """Deterministic train/valid/test assignment (split_assign): a pure
    projection — disjoint, exhaustive, repartition-stable."""
    docs = load_table(spark, sf, "documents")
    lbl = sampling.split_assign(
        "doc_id", {"train": 8.0, "valid": 1.0, "test": 1.0}, seed=3)
    return docs.select(lbl.alias("split")).groupBy("split").agg(
        F.count(F.lit(1)).alias("n"))


def _q_sample_per_group(spark, sf):
    """Exact-n-per-stratum sample: rank by affine hash inside each group,
    keep first 5 — row-level check (every selected doc_id must match)."""
    docs = load_table(spark, sf, "documents")
    return sampling.sample_per_group(
        docs, "lang", 5, "doc_id", seed=11).select("lang", "doc_id")


def _q_filter_groups(spark, sf):
    """pandas GroupBy.filter re-expressed declaratively
    (GroupBy.filter_groups): rows of the (l_returnflag, l_linestatus)
    groups satisfying a compound AGGREGATE predicate. One keyed boolean
    aggregate + a null-safe LEFT SEMI join of the corpus against the
    group-count-bounded qualifying key frame (AQE broadcasts it).
    Row-level check: every qualifying (orderkey, linenumber) row."""
    li = load_table(spark, sf, "lineitem")
    gb = GroupBy(li, ["l_returnflag", "l_linestatus"])
    out = gb.filter_groups(
        (F.avg("l_discount") > F.lit(0.049)) & (F.count(F.lit(1)) > F.lit(100)))
    return out.select("l_orderkey", "l_linenumber",
                      "l_returnflag", "l_linestatus")


def _q_group_idxminmax(spark, sf):
    """pandas GroupBy.idxmax/idxmin with an explicit id column: per
    event_type, the event_id holding the max (resp. min) value — one
    lexicographic struct aggregate per direction, single keyed agg pass,
    no window/join. Ties → minimum id (pandas first-occurrence)."""
    ev = load_table(spark, sf, "events")
    g = GroupBy(ev, "event_type")
    mx = g.idxmax("value", id_col="event_id")
    mn = g.idxmin("value", id_col="event_id")
    return mx.join(mn, "event_type").select(
        "event_type", "value_idxmax", "value_idxmin")


def _q_pct_change(spark, sf):
    """pandas GroupBy.pct_change: per-source fractional doc-length change
    in (doc_id) order — composes the keyed shift machinery; first row per
    group NULL. n_chars is strictly positive so the division is exact and
    engine/oracle-stable."""
    docs = load_table(spark, sf, "documents")
    g = GroupBy(docs.select("doc_id", "source",
                            F.col("n_chars").cast("double").alias("len_d")),
                "source", order_by="doc_id")
    out = g.pct_change("len_d")
    return out.select("doc_id", "source", "len_d_pct_change")


def _q_group_sem(spark, sf):
    """pandas GroupBy.sem (std error of the mean, any ddof): composes the
    gated var/std machinery — one keyed agg pass, value-checked for both
    the default ddof=1 and a generalized ddof=2."""
    li = load_table(spark, sf, "lineitem")
    g = GroupBy(li, "l_returnflag")
    s1 = g.sem("l_quantity", alias={"l_quantity": "sem_qty"})
    s2 = g.sem("l_quantity", ddof=2, alias={"l_quantity": "sem_qty_ddof2"})
    return s1.join(s2, "l_returnflag").select(
        "l_returnflag", F.round("sem_qty", 9).alias("sem_qty"),
        F.round("sem_qty_ddof2", 9).alias("sem_qty_ddof2"))


def _q_group_prod_any_all(spark, sf):
    """pandas GroupBy.prod/any/all (parity extras) in one multi-agg pass:
    per source, the product of a near-1 growth factor plus two truthiness
    aggregates (bool_or/bool_and with pandas vacuous-group semantics).
    One keyed agg, map-side combined."""
    docs = load_table(spark, sf, "documents")
    base = docs.select(
        "doc_id", "source",
        (F.lit(1.0) + F.lit(1.0) / (F.col("n_chars") + F.lit(100.0)))
        .alias("factor"),
        (F.col("n_chars") > 4000).alias("is_long"),
        (F.col("n_chars") > 50).alias("not_tiny"))
    g = GroupBy(base, "source")
    p = g.prod("factor").select(
        "source", F.round("factor", 6).alias("factor_prod"))
    a = g.any("is_long").withColumnRenamed("is_long", "any_long")
    l = g.all("not_tiny").withColumnRenamed("not_tiny", "all_not_tiny")
    return p.join(a, "source").join(l, "source")


def _q_group_skew_kurt(spark, sf):
    """pandas GroupBy.skew/kurt (parity extras): bias-corrected sample
    skewness and excess kurtosis of quantity and price per returnflag —
    one multi-agg keyed pass rescaling Spark's population moments to the
    pandas/DuckDB sample correction (the operator docstring's formulas,
    both value-checked here)."""
    li = load_table(spark, sf, "lineitem")
    g = GroupBy(li, "l_returnflag")
    out = g.agg({
        "skew_qty": ("skew", "l_quantity"),
        "kurt_qty": ("kurt", "l_quantity"),
        "skew_price": ("skew", "l_extendedprice"),
        "kurt_price": ("kurt", "l_extendedprice"),
    })
    return out.select(
        "l_returnflag",
        F.round("skew_qty", 9).alias("skew_qty"),
        F.round("kurt_qty", 9).alias("kurt_qty"),
        F.round("skew_price", 9).alias("skew_price"),
        F.round("kurt_price", 9).alias("kurt_price"))


def _q_ngroup(spark, sf):
    """pandas GroupBy.ngroup (parity extra): 0-based group label per row
    in key sort order. The numbering window runs over the DISTINCT key
    frame only (group-bounded), then joins back — the corpus never
    funnels through a single-task sort."""
    docs = load_table(spark, sf, "documents")
    out = GroupBy(docs, "source").ngroup()
    return out.select("doc_id", "source",
                      F.col("ngroup").cast("long").alias("ngroup"))


def _q_group_fill(spark, sf):
    """pandas GroupBy.ffill/bfill (+limit): per event_type in event_id
    order, forward fill, backward fill, and limit-2 forward fill of a
    deterministically nulled value column (event_id % 7 < 2 → NULL, same
    expression both engines). Running last/first-non-null windows — no
    join, one keyed sort."""
    ev = load_table(spark, sf, "events")
    base = ev.select(
        "event_id", "event_type",
        F.when(F.pmod(F.col("event_id"), F.lit(7)) >= 2,
               F.col("value")).alias("v"))
    # the three fills are independent columns over the same base — emit
    # the two ASC-ordered windows (ffill, limit-ffill) adjacently so they
    # share one keyed sort, then the DESC bfill: 3 full-data Sorts -> 2
    # (r16, guide §2.4). bfill stays DESC + running frame: Spark's
    # unbounded-FOLLOWING frame re-aggregates per row (O(n^2) per group).
    g = GroupBy(base, "event_type", order_by="event_id")
    f1 = g.ffill("v").withColumnRenamed("v_ffill", "v_f")
    f2 = (GroupBy(f1, "event_type", order_by="event_id")
          .ffill("v", limit=2).withColumnRenamed("v_ffill", "v_f2"))
    f3 = (GroupBy(f2, "event_type", order_by="event_id")
          .bfill("v").withColumnRenamed("v_bfill", "v_b"))
    return f3.select("event_id", "event_type",
                     F.round("v", 6).alias("v"),
                     F.round("v_f", 6).alias("v_f"),
                     F.round("v_b", 6).alias("v_b"),
                     F.round("v_f2", 6).alias("v_f2"))


def _q_group_ffill_scale(spark, sf):
    """Scale-path forward fill (functions.ordered.grouped_ffill): range
    partition on (group, order) + per-(partition, group) running
    last-non-null + broadcast boundary carry, instead of the per-group
    window — the few-huge-groups regime where
    Window.partitionBy(event_type) funnels ~1/5 of the corpus through one
    task (measured superlinear at sf100: exponent 1.23, fixed to 35 s vs
    48 s steady — BASELINE.md third-decade + A/B tables).
    num_partitions=None auto-resolves from Catalyst's size estimate (r13 —
    ~256 KiB/partition floor-2, capped at defaultParallelism until
    partitions would exceed ~512 MiB; preserves the r12 sf1/sf10 wide-range
    wins and drops the near-empty task dispatches at driver grain; the
    floor of 2 keeps cross-partition carries exercised at every gate SF)."""
    ev = load_table(spark, sf, "events")
    base = ev.select(
        "event_id", "event_type",
        F.when(F.pmod(F.col("event_id"), F.lit(7)) >= 2,
               F.col("value")).alias("v"))
    out = ordered.grouped_ffill(base, ["event_type"], ["event_id"], "v",
                                out="v_f", num_partitions=None)
    return out.select("event_id", "event_type",
                      F.round("v", 6).alias("v"),
                      F.round("v_f", 6).alias("v_f"))


def _q_group_bfill_scale(spark, sf):
    """Backward-fill mirror of group_ffill_scale (grouped_ffill with
    backward=True): same range partitioning; local window, boundary row
    and carry direction reversed."""
    ev = load_table(spark, sf, "events")
    base = ev.select(
        "event_id", "event_type",
        F.when(F.pmod(F.col("event_id"), F.lit(7)) >= 2,
               F.col("value")).alias("v"))
    out = ordered.grouped_ffill(base, ["event_type"], ["event_id"], "v",
                                out="v_b", num_partitions=None, backward=True)
    return out.select("event_id", "event_type",
                      F.round("v", 6).alias("v"),
                      F.round("v_b", 6).alias("v_b"))


def _q_group_take_scale(spark, sf):
    """Scale-path GroupBy.take (functions.ordered.grouped_take): ONE
    grouped_row_number pass (range partition + broadcast (partition,
    group) count frame) serves both forward and negative positions via
    backward = size − rn + 1 — vs the window form's one-task-per-group
    sort TWICE (forward + descending) when negatives are requested
    (group_take measured mildly superlinear at sf100, exponent 1.11 —
    BASELINE.md third-decade table). Same positions as group_take."""
    ev = load_table(spark, sf, "events")
    out = ordered.grouped_take(
        ev.select("event_id", "event_type", "value"),
        ["event_type"], ["event_id"], [0, 2, -1], num_partitions=None)
    return out.select("event_id", "event_type",
                      F.round("value", 6).alias("value"))


def _q_group_rolling_scale(spark, sf):
    """Scale-path trailing rolling sum/mean
    (functions.ordered.grouped_rolling_sum): rolling = prefix difference —
    one fused range-partition pass emits (rn, running sum, running
    non-null count), then a NARROW (group, rn−w) self-join supplies the
    window-start prefix; parallelism = partition count (the window form
    is one task per group). window=25, min_periods=5, deterministically
    nulled values; num_partitions=None auto-resolves from data size (r13); windows still span partition
    boundaries at gate SF."""
    ev = load_table(spark, sf, "events")
    # DECIMAL(18,6) input: the prefix sums are then EXACT, so the two-phase
    # decomposition equals the oracle's direct window bit-for-bit and the
    # driver's canonical-format hash cannot disagree (the r8 lesson:
    # unrounded double prefix-difference stats drifted ~1e-13 vs DuckDB and
    # flipped hash rounding boundaries). Divisions happen in double with
    # the exact sums cast first — mirrored verbatim in the oracle SQL.
    base = ev.select(
        "event_id", "event_type",
        F.when(F.pmod(F.col("event_id"), F.lit(7)) >= 2,
               F.round(F.col("value"), 6).cast("decimal(18,6)")).alias("v"))
    # ONE fused pass serves all three stats (grouped_rolling_stats) —
    # the chained sum→mean→var form paid three range exchanges
    vr = ordered.grouped_rolling_stats(
        base, ["event_type"], ["event_id"], "v", 25,
        stats=(("sum", "rsum"), ("mean", "rmean"), ("var", "rvar")),
        min_periods=5, num_partitions=None)
    return vr.select("event_id", "event_type",
                     F.col("v").cast("double").alias("v"),
                     F.col("rsum").cast("double").alias("rsum"),
                     F.col("rmean"), F.col("rvar"))


def _q_group_shift_scale(spark, sf):
    """Scale-path GroupBy.shift (functions.ordered.grouped_shift): one
    grouped_row_number pass + a narrow (group, rn+n) self-join — no
    per-group lag window (whose task must hold the entire group). Lag 3
    and lead 2 in one result."""
    ev = load_table(spark, sf, "events").select(
        "event_id", "event_type", "value")
    s = ordered.grouped_shift(ev, ["event_type"], ["event_id"], "value",
                              n=3, out="lag3", num_partitions=None)
    s = ordered.grouped_shift(s, ["event_type"], ["event_id"], "value",
                              n=-2, out="lead2", num_partitions=None)
    return s.select("event_id", "event_type",
                    F.round("value", 6).alias("value"),
                    F.round("lag3", 6).alias("lag3"),
                    F.round("lead2", 6).alias("lead2"))


def _q_group_expanding_scale(spark, sf):
    """Scale-path expanding mean/var/std
    (functions.ordered.grouped_expanding): the expanding frame IS the
    running prefix, so one fused range-partition pass (sum, sum of
    squares, non-null count + broadcast offsets) serves all three stats
    with NO join — vs the window form's one-task-per-group unbounded
    frame. min_periods=4 like the expanding_stats twin."""
    ev = load_table(spark, sf, "events")
    # DECIMAL(18,6) input → exact prefix sums → bit-identical to the
    # oracle's window regardless of the two-phase decomposition (see
    # group_rolling_scale); divisions in double, mirrored in the oracle
    base = ev.select(
        "event_id", "event_type",
        F.when(F.pmod(F.col("event_id"), F.lit(7)) >= 2,
               F.round(F.col("value"), 6).cast("decimal(18,6)")).alias("v"))
    out = ordered.grouped_expanding(base, ["event_type"], ["event_id"],
                                    "v", stats=("mean", "var", "std"),
                                    min_periods=4, num_partitions=None)
    return out.select("event_id", "event_type",
                      F.col("v").cast("double").alias("v"),
                      F.col("v_expanding_mean").alias("exp_mean"),
                      F.col("v_expanding_var").alias("exp_var"),
                      F.col("v_expanding_std").alias("exp_std"))


def _q_group_rolling_time_scale(spark, sf):
    """Scale-path time-based trailing window
    (functions.ordered.grouped_rolling_time): per-(group, t) cumulative
    totals + a UNION-FFILL ASOF for the window-start prefix (anchors at
    t−w sort before data rows at equal keys) — no range-frame window, no
    pair-amplifying bucket join, O(n) end to end. RANGE frame
    [t−1000, t] on event_id as the time axis, sum/mean/count/var,
    min_periods=2."""
    ev = load_table(spark, sf, "events")
    # DECIMAL(18,6) input → exact per-key totals and cumulative sums, so
    # the anchor-asof decomposition equals the oracle's RANGE window
    # bit-for-bit; divisions in double, mirrored in the oracle (see
    # group_rolling_scale)
    base = ev.select(
        "event_id", "event_type",
        F.when(F.pmod(F.col("event_id"), F.lit(7)) >= 2,
               F.round(F.col("value"), 6).cast("decimal(18,6)")).alias("v"))
    # event_id is unique within the group: unique_on removes the per-key
    # pre-aggregate and the join back (2 corpus exchanges)
    out = ordered.grouped_rolling_time(
        base, ["event_type"], "event_id", "v", 1000,
        funcs=("sum", "mean", "count", "var"), min_periods=2,
        num_partitions=None, unique_on=True)
    return out.select("event_id", "event_type",
                      F.col("v").cast("double").alias("v"),
                      F.col("v_tsum"), F.col("v_tmean"),
                      F.col("v_tcount"), F.col("v_tvar"))


def _q_group_rank_scale(spark, sf):
    """Scale-path GroupBy.rank (functions.ordered.grouped_rank): range
    partition on (group, VALUE) — ranking's own order — one grouped
    numbering pass + a (group, value)-distinct tie frame joined back;
    the tie frame gets the same no-funnel numbering for the dense index.
    Same columns as group_rank_methods (average, max, dense-pct over
    heavy l_quantity ties)."""
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
    base = li.withColumn("qty", F.col("l_quantity").cast("double"))
    out = ordered.grouped_rank(
        base, ["l_returnflag"], ["l_orderkey", "l_linenumber"], "qty",
        num_partitions=None,
        methods=[("average", False, "avg_rank"),
                 ("max", False, "max_rank"),
                 ("dense", True, "dense_pct")])
    return out.select("l_orderkey", "l_linenumber", "l_returnflag", "qty",
                      "avg_rank", "max_rank",
                      F.round("dense_pct", 9).alias("dense_pct"))


def _q_group_cumminmax_scale(spark, sf):
    """Scale-path running min+max (functions.ordered.grouped_cumminmax):
    prefix min/max is associative, so the grouped_cumsum two-phase
    shape applies verbatim — per-(partition, group) running extreme +
    broadcast boundary carry."""
    ev = load_table(spark, sf, "events")
    base = ev.select(
        "event_id", "event_type",
        F.when(F.pmod(F.col("event_id"), F.lit(7)) >= 2,
               F.col("value")).alias("v"))
    a = ordered.grouped_cumminmax(base, ["event_type"], ["event_id"], "v",
                                  op="min", out="cmin", num_partitions=None)
    b = ordered.grouped_cumminmax(a, ["event_type"], ["event_id"], "v",
                                  op="max", out="cmax", num_partitions=None)
    return b.select("event_id", "event_type",
                    F.round("v", 6).alias("v"),
                    F.round("cmin", 6).alias("cmin"),
                    F.round("cmax", 6).alias("cmax"))


def _q_group_ohlc(spark, sf):
    """pandas GroupBy.ohlc (parity extra): per event_type, the first/
    max/min/last of value in event_id order — one keyed agg pass (the
    ordered first/last struct machinery + plain min/max)."""
    ev = load_table(spark, sf, "events")
    g = GroupBy(ev, "event_type", order_by="event_id")
    out = g.ohlc("value")
    return out.select(
        "event_type",
        F.round("value_open", 6).alias("v_open"),
        F.round("value_high", 6).alias("v_high"),
        F.round("value_low", 6).alias("v_low"),
        F.round("value_close", 6).alias("v_close"))


def _q_group_describe(spark, sf):
    """pandas GroupBy.describe (parity extra): count/mean/std/min/
    quartiles/max of quantity per returnflag in ONE keyed agg pass —
    exact percentile_cont quartiles (approx=True is the sketch path for
    100 TB)."""
    li = load_table(spark, sf, "lineitem")
    out = GroupBy(li, "l_returnflag").describe("l_quantity")
    return out.select(
        "l_returnflag",
        F.col("l_quantity_count").alias("cnt"),
        F.round("l_quantity_mean", 9).alias("mean_qty"),
        F.round("l_quantity_std", 9).alias("std_qty"),
        F.col("l_quantity_min").alias("min_qty"),
        F.round("l_quantity_q0_25", 9).alias("q25"),
        F.round("l_quantity_q0_5", 9).alias("q50"),
        F.round("l_quantity_q0_75", 9).alias("q75"),
        F.col("l_quantity_max").alias("max_qty"))


def _q_group_nlargest(spark, sf):
    """pandas SeriesGroupBy.nlargest/nsmallest with whole rows: top-3
    and bottom-2 events by value per event_type — per-key ranking
    window, NULLs excluded, ties to the earliest event_id (pandas
    keep='first'); salt= is the skew path (pinned equal in tests)."""
    ev = load_table(spark, sf, "events")
    g = GroupBy(ev, "event_type", order_by="event_id")
    top = g.nlargest(3, "value").select(
        "event_type", "event_id", F.round("value", 6).alias("value"),
        F.lit("top").alias("side"))
    bot = g.nsmallest(2, "value").select(
        "event_type", "event_id", F.round("value", 6).alias("value"),
        F.lit("bottom").alias("side"))
    return top.unionByName(bot)


def _q_group_rank_methods(spark, sf):
    """pandas GroupBy.rank methods (average/max/dense+pct) on heavily
    tied quantities — single-window compositions (tie counts from a
    per-value partition; the dense-pct denominator is the
    dense_asc+dense_desc−1 distinct-count identity, no extra agg/join)."""
    li = load_table(spark, sf, "lineitem")
    base = li.select("l_orderkey", "l_linenumber", "l_returnflag",
                     F.col("l_quantity").alias("qty"))
    a = (GroupBy(base, "l_returnflag").rank("qty", method="average")
         .withColumnRenamed("qty_rank", "avg_rank"))
    b = (GroupBy(a, "l_returnflag").rank("qty", method="max")
         .withColumnRenamed("qty_rank", "max_rank"))
    c = (GroupBy(b, "l_returnflag").rank("qty", method="dense", pct=True)
         .withColumnRenamed("qty_rank", "dense_pct"))
    return c.select("l_orderkey", "l_linenumber", "l_returnflag", "qty",
                    "avg_rank", "max_rank", F.round("dense_pct", 9).alias("dense_pct"))


def _q_group_take(spark, sf):
    """pandas GroupBy.take: events at in-group positions [0, 2, -1] in
    event_id order — one forward + one backward ranking window over the
    same keyed sort; out-of-range positions drop (nth's convention)."""
    ev = load_table(spark, sf, "events")
    g = GroupBy(ev.select("event_id", "event_type", "value"),
                "event_type", order_by="event_id")
    out = g.take([0, 2, -1])
    return out.select("event_id", "event_type",
                      F.round("value", 6).alias("value"))


def _q_corrwith(spark, sf):
    """pandas DataFrameGroupBy.corrwith: per-returnflag Pearson
    correlation of quantity and discount with extendedprice — one
    multi-column keyed agg pass (a corr expression per column)."""
    li = load_table(spark, sf, "lineitem")
    out = GroupBy(li, "l_returnflag").corrwith(
        "l_extendedprice", ["l_quantity", "l_discount"])
    return out.select(
        "l_returnflag",
        F.round("l_quantity_corr", 9).alias("qty_corr"),
        F.round("l_discount_corr", 9).alias("disc_corr"))


def _q_duplicated_flags(spark, sf):
    """pandas DataFrame.duplicated with explicit order
    (operators/dedup.py duplicated_flags): keep='first' and keep=False
    flags over exact-content duplicates in doc_id order. The subset is
    the sha2 content hash, so the exchange carries 32 bytes per row, not
    the document body."""
    docs = load_table(spark, sf, "documents")
    hashed = docs.select(
        "doc_id", F.sha2(F.col("text").cast("string"), 256).alias("h"))
    first = dedup.duplicated_flags(hashed, "h", "doc_id", keep="first")
    both = (dedup.duplicated_flags(first.withColumnRenamed(
        "duplicated", "dup_first"), "h", "doc_id", keep=False)
        .withColumnRenamed("duplicated", "dup_any"))
    return both.select("doc_id", "dup_first", "dup_any")


def _q_qcut_deciles(spark, sf):
    """Global quantile binning (functions.binning.qcut — pandas qcut):
    decile-bin document length. ONE aggregation computes all nine
    boundaries (scalar collect, bounded); assignment is a codegen
    comparison chain — the corpus never shuffles. Integer n_chars makes
    the interpolated boundaries bit-identical across engines."""
    docs = load_table(spark, sf, "documents")
    from pandas_plus_spark.functions import qcut
    out = qcut(docs, "n_chars", q=10, output="qbin")
    return out.select("doc_id", "n_chars",
                      F.col("qbin").cast("long").alias("qbin"))


def _q_pivot_table_mean(spark, sf):
    """pandas pivot_table over the crosstab engine: mean doc length per
    source x lang with full margins — one aggregation of masked cells
    (avg(when(lang == v, n_chars)) per value, the unmasked avg as "All"),
    its "All" row the empty grouping set. column_values passed explicitly
    (skips the distinct-discovery job — the 100 TB contract)."""
    docs = load_table(spark, sf, "documents")
    from pandas_plus_spark import pivot_table
    out = pivot_table(docs, values="n_chars", index="source",
                      columns="lang", aggfunc="mean", margins=True,
                      column_values=["de", "en", "es", "fr", "zh"])
    cols = ["de", "en", "es", "fr", "zh", "All"]
    return out.select("source",
                      *[F.round(F.col(c), 9).alias(c) for c in cols])


def _q_expanding_stats(spark, sf):
    """pandas GroupBy.expanding (parity extra): per-user running mean
    and sample std of value in event_id order with min_periods=2 — the
    unbounded-preceding frame of the rolling machinery (one keyed sort,
    no join)."""
    # DECIMAL(18,6) input routes GroupBy._rolling to the exact-moment
    # window path (sums exact → oracle-bit-identical; divisions in double,
    # mirrored in the oracle SQL — see group_rolling_scale)
    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id",
        F.round(F.col("value"), 6).cast("decimal(18,6)").alias("value"))
    g = GroupBy(ev, "user_id", order_by="event_id")
    m = g.expanding(min_periods=2).mean("value")
    s = (GroupBy(m, "user_id", order_by="event_id")
         .expanding(min_periods=2).std("value"))
    return s.select(
        "event_id", "user_id",
        F.col("value_expanding_mean").alias("run_mean"),
        F.col("value_expanding_std").alias("run_std"))


def _q_ewm_mean(spark, sf):
    """pandas GroupBy.ewm().mean() (parity extra): per-user
    exponentially weighted value mean (alpha=0.1, adjust=True) in
    event_id order — the declarative chunk-rescaled-scan path (pure
    whole-stage-codegen windows, zero Python nodes; 5.3x the Arrow
    kernel at sf100, BASELINE.md). adjust=False still routes to the
    pandas C kernel via applyInPandas. Oracle: the closed-form weighted
    sum over in-group pairs."""
    ev = load_table(spark, sf, "events").select("event_id", "user_id", "value")
    g = GroupBy(ev, "user_id", order_by="event_id")
    out = g.ewm_mean("value", alpha=0.1)
    return out.select("event_id", "user_id",
                      F.col("value_ewm").alias("ewm_v"))


def _q_ewm_var_std(spark, sf):
    """pandas GroupBy.ewm().var()/std() (bias=False): per-user
    exponentially weighted variance in event_id order — the same
    chunk-rescaled scan as ewm_mean plus a squared-weight component
    ((1-alpha)^2 ratio) for the W1^2/(W1^2-W2) bias correction. Oracle:
    the closed-form weighted moments over in-group pairs."""
    ev = load_table(spark, sf, "events").select("event_id", "user_id", "value")
    g = GroupBy(ev, "user_id", order_by="event_id")
    out = g.ewm_moments("value", alpha=0.1)  # one scan: mean+var+std
    return out.select("event_id", "user_id",
                      F.col("value_ewm_var").alias("ewm_var"),
                      F.col("value_ewm_std").alias("ewm_std"))


def _q_resample_agg(spark, sf):
    """pandas GroupBy.resample analog: per event_type per 1-hour bucket
    of ts, the event count and value sum — the bucket is a pure per-row
    expression (epoch-aligned window start), one keyed agg shuffle on
    (type, bucket), map-side combined."""
    ev = load_table(spark, sf, "events")
    g = GroupBy(ev, "event_type").resample("ts", "1h")
    out = g.agg({"n": ("size", ""), "sum_v": ("dsum", "value")})
    return out.select(
        "event_type", F.col("ts_bucket").alias("bucket"), "n",
        F.round("sum_v", 6).alias("sum_v"))


def _q_cumprod(spark, sf):
    """pandas GroupBy.cumprod (parity extra): per-source running product
    of a near-1 growth factor in doc_id order — factors near 1 keep the
    float product inside the driver's rounding tolerance on both engines
    (the operator docstring's cross-engine caution, exercised here)."""
    docs = load_table(spark, sf, "documents")
    base = docs.select(
        "doc_id", "source",
        (F.lit(1.0) + F.lit(1.0) / (F.col("n_chars") + F.lit(100.0)))
        .alias("factor"))
    g = GroupBy(base, "source", order_by="doc_id")
    out = g.cumprod("factor")
    return out.select("doc_id", "source",
                      F.round("factor_cumprod", 6).alias("running_factor"))


def _q_token_budget(spark, sf):
    """Per-source TOKEN-budget selection (sampling.token_budget_sample):
    greedy take-in-deterministic-priority-order until each source's token
    budget is spent — the "N billion tokens per source" training-mix
    idiom. The running total routes through functions.ordered.
    grouped_cumsum (range partition on (source, priority) + broadcast
    prefix offsets), so a 100 TB mix with 20 sources never funnels a
    source through one window task. Row-level check of every selected
    (source, doc_id, n_tok)."""
    docs = load_table(spark, sf, "documents")
    withn = docs.select(
        "doc_id", "source", tx.token_count("text").cast("long").alias("n_tok"))
    sel = sampling.token_budget_sample(
        withn, "source", "n_tok", budget=2000, key="doc_id", seed=7)
    # .select() strips _pps_cached — re-attach so bench's release_cached
    # frees grouped_cumsum's pinned range-partitioned frame
    return attach_cached(sel.select("source", "doc_id", "n_tok"),
                         *getattr(sel, "_pps_cached", ()))


def _q_quantile_calibration(spark, sf):
    """Per-source quality-threshold calibration
    (cleaning.quantile_threshold_filter): ONE exact-percentile aggregate
    (one row per source) broadcast back as a filter predicate — "keep the
    top 30% of each source by quality" with the corpus never shuffling.
    Thresholds snap to 9 decimals so the >= membership is knife-edge-free
    across engines. Row-level check of every kept (doc_id, source, q)."""
    docs = load_table(spark, sf, "documents")
    scored = docs.select(
        "doc_id", "source", tx.quality_score("text").alias("q"))
    return cleaning.quantile_threshold_filter(scored, "source", "q", 0.7)


def _q_leakage_split(spark, sf):
    """Near-dup-leakage-safe train/valid/test split
    (sampling.leakage_safe_split): members of a connected near-duplicate
    cluster all hash the cluster representative, so a near-copy of a test
    document can never land in train. Pair graph = the exact
    trigram-Jaccard pairs (same graph the dup_clusters gate pins);
    checked against a recursive-CTE closure + the affine split CASE.
    Row-level check of every (doc_id, split)."""
    docs = load_table(spark, sf, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.2)
    out = sampling.leakage_safe_split(
        docs, pairs, "doc_id",
        {"train": 8.0, "valid": 1.0, "test": 1.0}, seed=3)
    return out.select("doc_id", "split")


def _q_leakage_split_lsh(spark, sf):
    """leakage_safe_split at its PRODUCTION operating point: the pair
    graph is the banded-minhash near-dup pipeline (the corpus-scale pair
    source, bucket-capped and batch-proportional — BASELINE.md's measured
    scale path) UNION the exact-copy edges from the content collapse, so
    neither a near-dup nor a byte-identical copy of an eval document can
    land in train. Poly hashes end to end → the whole composition is
    value-checked against the recursive-CTE closure + affine split CASE
    (the exact-pair `leakage_split` gate pins the operator on an
    independent pair source)."""
    docs = load_table(spark, sf, "documents")
    near = dedup.minhash_dedup(docs, "text", "doc_id", threshold=0.3,
                               num_hashes=8, bands=4, hash_fn="poly")
    # exact-copy edges via 32-byte content hashes (the exact_dedup
    # pattern) — document bodies never shuffle for this side
    hashed = docs.select(
        "doc_id", F.sha2(F.col("text").cast("string"), 256).alias("__h"))
    reps = hashed.groupBy("__h").agg(F.min("doc_id").alias("__rid"))
    exact_edges = (
        hashed.join(reps, "__h")
        .where(F.col("doc_id") != F.col("__rid"))
        .select(F.col("__rid").alias("id_a"), F.col("doc_id").alias("id_b")))
    # carry minhash_dedup's persist handles through the union/select so
    # release_cached on the result frees them (lint sweep + gate rely on it)
    pairs = attach_cached(
        near.select("id_a", "id_b").unionByName(exact_edges),
        *getattr(near, "_pps_cached", ()))
    out = sampling.leakage_safe_split(
        docs, pairs, "doc_id",
        {"train": 8.0, "valid": 1.0, "test": 1.0}, seed=3)
    return attach_cached(out.select("doc_id", "split"),
                         *getattr(out, "_pps_cached", ()))


def _q_pack_chunks(spark, sf):
    """Concat-and-chunk sequence packing (operators/packing.py): shard by
    hash, window cumsum inside the shard, chunk ids by integer division.
    Row-level check of every document's packed position."""
    docs = load_table(spark, sf, "documents")
    withn = docs.select(
        "doc_id", tx.token_count("text").cast("long").alias("n_tok"))
    out = packing.concat_chunk_pack(
        withn, "doc_id", "n_tok", budget=256, shards=4, seed=5,
        string_key=False)
    return out.select(
        "doc_id", "shard", "chunk_first", "chunk_last", "offset_in_chunk")


def _q_global_cumsum(spark, sf):
    """Distributed GLOBAL running total (functions.ordered.global_cumsum):
    range partition → per-partition running sum → broadcast prefix offsets.
    Replaces the one-task `WindowExec: No Partition Defined` shape. DECIMAL
    accumulation keeps the total bit-identical under ANY partition count —
    with doubles, float association across partition boundaries would flip
    the driver's rounded hash (the segment_revenue lesson)."""
    ev = load_table(spark, sf, "events")
    dec = ev.select(
        "event_id", "ts", F.col("value").cast("decimal(27,6)").alias("v"))
    out = ordered.global_cumsum(dec, ["ts", "event_id"], "v",
                                out="running_total")
    return out.select(
        "event_id", F.col("running_total").cast("double").alias("running_total"))


def _q_global_shift(spark, sf):
    """Distributed global lag: global row numbers + self-equi-join on
    rn−1 — robust for any shift distance, no boundary special-cases."""
    ev = load_table(spark, sf, "events").select("event_id", "ts", "value")
    out = ordered.global_shift(ev, ["ts", "event_id"], "value", n=1)
    return out.select("event_id", "value", "value_shift")


def _q_global_ordered(spark, sf):
    """Compound gate (r11 registry consolidation — folds the former
    global_cumsum / global_shift entries): both distributed GLOBAL ordered
    operators over the same (ts, event_id) total order in one frame, each
    column value-checked by the one oracle. event_id is unique so the
    equi-join is lossless. The folded shapes remain priced individually
    via the module-level _q_global_cumsum/_q_global_shift callables."""
    cs = _q_global_cumsum(spark, sf)
    sh = _q_global_shift(spark, sf)
    return sh.join(cs, "event_id")


def _with_injected_repetition(docs):
    """The synthetic corpus is single-line, near-repetition-free text; the
    repetition-signal queries inject duplication DETERMINISTICALLY (every
    5th doc doubled with a newline) so the signals are non-trivial. The
    oracle applies the identical injection."""
    doubled = F.concat(F.col("text"), F.lit("\n"), F.col("text"))
    return docs.select(
        "doc_id", "lang",
        F.when(F.col("doc_id") % 5 == 0, doubled).otherwise(
            F.col("text")).alias("text"))


def _q_repetition_signals(spark, sf):
    """Gopher-style per-document repetition signals: line-duplication
    fractions (pure map-side HOFs) + top-2-gram token share (explode →
    two-level hash agg keyed by doc)."""
    docs = _with_injected_repetition(load_table(spark, sf, "documents"))
    ls = corpus.line_stats("text")
    line_part = docs.select(
        "doc_id",
        ls["n_lines"].alias("n_lines"),
        F.round(ls["dup_line_frac"], 6).alias("dup_line_frac"),
        F.round(ls["dup_line_char_frac"], 6).alias("dup_line_char_frac"),
    )
    shares = corpus.top_ngram_share(docs, "doc_id", "text", 2).select(
        "doc_id", "n_tokens", "top_ngram", "top_ngram_count",
        F.round("top_ngram_token_frac", 6).alias("top2gram_frac"))
    return line_part.join(shares, "doc_id")


def _q_boilerplate_removal(spark, sf):
    """HTML boilerplate removal (operators/cleaning.py
    remove_boilerplate): the Boilerpipe/JusText-lite two-signal block
    classifier — block segmentation on block-level tags, per-block
    tag-strip + entity decode, keep blocks with ≥25 chars and link-text
    density ≤0.3 — run over deterministic per-doc HTML (link-dense nav +
    short title + body prose + optional second paragraph with an
    &amp; entity + link-dense footer). The oracle CONSTRUCTS the
    expected clean text and block counts directly from the doc_id
    arithmetic, so a split-boundary, link-density, entity-decode, or
    whitespace-normalization bug fails the value hash. Pure Column
    machinery (one regex split + HOF transform/filter — no UDF)."""
    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 400).select("doc_id"))
    d = F.col("doc_id").cast("string")
    k7 = (F.col("doc_id") % 7).cast("string")
    k5 = (F.col("doc_id") % 5).cast("string")
    html = F.concat(
        F.lit('<html><body><div class="nav"><a href="/">Home</a> | '
              '<a href="/a">About</a> | <a href="/c">Contact</a></div>'),
        F.lit("<h1>Title "), d, F.lit("</h1>"),
        F.lit("<p>This is the main body of document "), d,
        F.lit(". It talks about topic"), k7,
        F.lit(" at length and has enough characters to pass the block"
              " threshold.</p>"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("<p>Second paragraph with more prose about"
                              " topic"), k5,
                        F.lit(" &amp; extra details.</p>")))
        .otherwise(F.lit("")),
        F.lit('<div class="footer"><a href="/tos">Terms</a> '
              '<a href="/priv">Privacy</a></div></body></html>'))
    bp = cleaning.remove_boilerplate(html)
    return docs.select(
        "doc_id",
        bp["text"].alias("clean_text"),
        bp["n_blocks"].cast("int").alias("n_blocks"),
        bp["n_kept"].cast("int").alias("n_kept"))


def _q_snapshot_diff(spark, sf):
    """Dataset-version diff (operators/corpus.py snapshot_diff): two
    snapshots derived from the documents table by doc_id arithmetic
    (every 17th doc removed, every 11th's text changed, every 13th
    re-added under a shifted id), statuses added/removed/changed/
    unchanged per doc. The engine compares md5 content digests through
    a narrow full-outer join; the oracle constructs every status
    directly from the arithmetic — digest, join-shape, or null-handling
    bugs fail row-level."""
    docs = (load_table(spark, sf, "documents")
            .where(F.col("doc_id") < 3000)
            .select("doc_id", "text", "lang"))
    old = docs
    kept = docs.filter(F.col("doc_id") % 17 != 0)
    modified = kept.select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0,
               F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text")).alias("text"),
        "lang")
    added = (docs.filter(F.col("doc_id") % 13 == 0)
             .select((F.col("doc_id") + F.lit(100000)).alias("doc_id"),
                     "text", "lang"))
    new = modified.unionByName(added)
    return corpus.snapshot_diff(old, new, "doc_id", ["text", "lang"])


def _q_repetition_filter(spark, sf):
    """End-to-end Gopher repetition gate over the injected corpus: which
    documents survive the dup-line/top-2-gram thresholds."""
    docs = _with_injected_repetition(load_table(spark, sf, "documents"))
    return corpus.repetition_filter(docs, "doc_id", "text").select(
        "doc_id", "lang")


def _q_label_cohesion(spark, sf):
    """Embedding hygiene: cosine of every vector to its own label centroid
    (operators/similarity.group_centroids / centroid_similarity). Shuffle
    rows are (label, dim, value) scalars; the centroid frame broadcasts.
    Vectors cast to double up front: mixed float/double products would
    differ from the all-double oracle by ~1e-7 — above the 1e-6 rounding
    grain."""
    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("embedding"))
    out = similarity.centroid_similarity(emb, "label")
    return out.select("vec_id", "label",
                      F.round("cos_centroid", 6).alias("cos_centroid"))


def _q_tfidf_top_terms(spark, sf):
    """Top-3 TF-IDF terms per doc (operators/ranking.py): one corpus shuffle
    keyed (doc, term); df + N join back as broadcasts; per-doc ranking window
    is bounded by doc length."""
    docs = load_table(spark, sf, "documents")
    out = ranking.top_terms(docs, k=3)
    return out.select("doc_id", "term", "tf", "df",
                      F.round("tfidf", 6).alias("tfidf"), "rank")


def _q_vocab_top(spark, sf):
    """Frequency vocabulary with coverage curve: vocabulary-sized counts
    ranked by the DISTRIBUTED ordered ops (range partition + prefix
    offsets) — no single-task global window at any vocabulary size."""
    docs = load_table(spark, sf, "documents")
    out = ranking.build_vocab(docs, max_size=50)
    return out.select("term", "count", "rank",
                      F.round("cum_frac", 6).alias("cum_frac"))


def _q_oov_rate(spark, sf):
    """Per-doc OOV rate vs the top-20 vocab: vocab broadcast, corpus
    explodes map-side, one per-doc agg shuffle."""
    docs = load_table(spark, sf, "documents")
    vocab = ranking.build_vocab(docs, max_size=20)
    out = ranking.oov_rate(docs, vocab)
    return out.select("doc_id", "n_tokens", "n_oov",
                      F.round("oov_frac", 6).alias("oov_frac"))


_BM25_QUERY = ["table", "spark", "query", "window"]


def _q_bm25_rank(spark, sf):
    """Okapi BM25 of every doc vs a fixed query bag: postings filtered to
    the query terms BEFORE the shuffle; df/avgdl/N broadcast scalars."""
    docs = load_table(spark, sf, "documents")
    out = ranking.bm25_scores(docs, _BM25_QUERY)
    return out.select("doc_id", "n_terms", F.round("bm25", 6).alias("bm25"))


def _with_injected_pii(docs):
    """Deterministic PII injection — the synthetic corpus is PII-free word
    soup, so the scan/redact queries append known PII shapes to fixed
    doc_id residue classes (same arithmetic in the SQL oracle)."""
    t = F.col("text")
    t = F.when(F.col("doc_id") % 7 == 0,
               F.concat(t, F.lit(" contact bob.smith+x@example.co.uk now"))).otherwise(t)
    t = F.when(F.col("doc_id") % 11 == 3,
               F.concat(t, F.lit(" host 192.168.0.1 up"))).otherwise(t)
    t = F.when(F.col("doc_id") % 13 == 5,
               F.concat(t, F.lit(" ssn 123-45-6789 end"))).otherwise(t)
    t = F.when(F.col("doc_id") % 17 == 2,
               F.concat(t, F.lit(" call +1 (555) 123-4567 today"))).otherwise(t)
    return docs.withColumn("text", t)


def _q_pii_scan(spark, sf):
    """PII scan + redact over the injected corpus, rolled up per source:
    category match counts and how many docs redaction changed. All rules
    are map-side regexp expressions; the only shuffle is the tiny final
    agg."""
    docs = _with_injected_pii(ensure_parallelism(load_table(spark, sf, "documents")))
    counts = cleaning.pii_counts("text")
    per_doc = docs.select(
        "source",
        *[c.alias(f"n_{cat}") for cat, c in counts.items()],
        (cleaning.redact_pii("text") != F.col("text")).cast("long").alias("red"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").alias("n_email"),
        F.sum("n_ipv4").alias("n_ipv4"),
        F.sum("n_ssn").alias("n_ssn"),
        F.sum("n_phone").alias("n_phone"),
        F.sum("red").alias("n_redacted"),
    )


def _c4_shaped(docs):
    """Derive punctuation + line structure deterministically: ' value ' →
    sentence break, ' table ' → newline (plain substring replace — identical
    non-overlapping leftmost semantics in Spark and DuckDB)."""
    t = F.col("text")
    t = F.replace(t, F.lit(" value "), F.lit(". "))
    t = F.replace(t, F.lit(" table "), F.lit("\n"))
    return docs.withColumn("text", t)


def _q_c4_filter(spark, sf):
    """C4 line/page heuristics (Raffel et al. 2020 §2.2) per document over
    the punctuation-shaped corpus: line keep counts, sentence count, and
    the composite page-keep flag. Integer/boolean output — exact parity."""
    docs = _c4_shaped(ensure_parallelism(load_table(spark, sf, "documents")))
    stats = cleaning.c4_line_stats("text", min_words=5)
    return docs.select(
        "doc_id",
        stats["n_lines"].alias("n_lines"),
        stats["n_kept_lines"].alias("n_kept_lines"),
        stats["n_sentences"].alias("n_sentences"),
        cleaning.c4_keep("text", min_words=5, min_sentences=3).alias("keep"),
    )


def _q_contamination(spark, sf):
    """Benchmark decontamination: every 97th doc is the held-out benchmark;
    flag corpus docs sharing any word 8-gram. Benchmark grams broadcast;
    corpus never shuffles until the final per-doc agg."""
    docs = load_table(spark, sf, "documents")
    corpus_side = docs.filter(F.col("doc_id") % 97 != 0)
    bench_side = docs.filter(F.col("doc_id") % 97 == 0)
    out = cleaning.ngram_contamination(corpus_side, bench_side, n=8)
    return out.select("doc_id", "n_grams", "n_contaminated",
                      F.round("contamination_frac", 6).alias("contamination_frac"),
                      "contaminated")


def _q_temperature_mixture(spark, sf):
    """Temperature-based source re-mixing (sampling.temperature_mixture,
    alpha=0.5 upweighting small languages, half-corpus budget): per-lang
    kept counts + an id checksum pinning exactly WHICH rows were kept.
    The corpus is scanned once — per-source counts are a tiny aggregate,
    the probability frame broadcasts, the keep decision is a map-side
    deterministic-hash filter."""
    docs = load_table(spark, sf, "documents")
    kept = sampling.temperature_mixture(
        docs, "lang", "doc_id", alpha=0.5, budget_frac=0.5, seed=13)
    return (kept.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum("doc_id").alias("id_checksum")))


_EPOCH_RECIPE = {f"src{i}": 0.3 + 0.35 * i for i in range(20)}
_EPOCH_TARGET = {"src0": 0.25, "src1": 0.25, "src2": 0.125, "src3": 0.375}


def _q_epoch_mixture(spark, sf):
    """Deterministic fractional-epoch materialization (r15 —
    sampling.epoch_mixture, the upsampling complement to
    temperature_mixture): source s with epoch factor e emits floor(e)
    full copies of every row plus an affine-hash-selected e − floor(e)
    partial copy — the LLaMA-style data-recipe layout. The recipe spans
    0.3..6.95 epochs across the 20 sources, so the gate exercises
    drop-fraction, pure-fractional, integer and multi-copy regimes;
    shipping the materialized (doc_id, source, epoch) rows pins exactly
    WHICH copies exist. Map-side only: broadcast recipe + explode, no
    shuffle."""
    docs = load_table(spark, sf, "documents").select("doc_id", "source")
    out = sampling.epoch_mixture(docs, "source", "doc_id",
                                 _EPOCH_RECIPE, seed=5)
    return out.select("doc_id", "source", "epoch")


def _q_epoch_plan(spark, sf):
    """Per-source data-recipe plan (r15 — sampling.epochs_for_target):
    token counts, natural vs target share, and the epoch factor
    target·budget/n_tokens each source needs to hit a 10M-token mix —
    one tiny aggregate + a broadcast target map; sources absent from
    the target get 0 epochs. All shipped doubles are single-expression
    divisions of identical operands in both engines."""
    docs = load_table(spark, sf, "documents")
    out = sampling.epochs_for_target(docs, "source", "n_chars",
                                     _EPOCH_TARGET,
                                     budget_tokens=10_000_000)
    return out.select("source", "n_tokens", "natural_frac",
                      "target_frac", "epochs")


def _q_temperature_mixture_tokens(spark, sf):
    """Token-mass temperature mixing (r15 — temperature_mixture
    weight_col=): the per-source mass is the n_chars SUM, not the row
    count, so the kept mix hits its temperature shares in token mass —
    how production recipes are budgeted. Ships per-source kept counts,
    kept token mass and an id checksum (which-rows determinism); the
    keep probabilities differ from the row-count gate wherever sources'
    mean doc lengths differ, so this exercises the weighted branch."""
    docs = load_table(spark, sf, "documents")
    kept = sampling.temperature_mixture(
        docs, "source", "doc_id", alpha=0.3, budget_frac=0.4, seed=17,
        weight_col="n_chars")
    return (kept.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum("n_chars").alias("kept_tokens"),
                 F.sum("doc_id").alias("id_checksum")))


def _q_semantic_keep_list(spark, sf):
    """Embedding-space dedup keep-list (similarity.semantic_dedup_keep_list):
    cosine near-dup pairs at 0.30 → connected components → keep = cluster
    minimum. The semantic twin of dedup_keep_list — exact all-pairs
    verification here (validation scale per the operator contract; the
    scale path feeds LSH candidates). Oracle: the same pair graph + a
    recursive-CTE transitive closure in DuckDB. The operator's
    intentional all-pairs RuntimeWarning is filtered HERE (the gate opts
    into the fallback; same convention as cosine_neardup)."""
    import warnings

    emb = _cast_double_embeddings(spark, sf)
    with warnings.catch_warnings():
        warnings.filterwarnings(
            "ignore", message=".*cross-joins ALL pairs.*",
            category=RuntimeWarning)
        return similarity.semantic_dedup_keep_list(emb, threshold=0.30)


def _q_semantic_keep_list_lsh(spark, sf):
    """The SCALE PATH of semantic dedup, value-checked end-to-end: LSH
    candidate pairs (hyperplane buckets, poly plane family, 3 planes x 12
    tables) -> bucket-bounded cosine verification -> connected components
    -> keep = cluster minimum. Unlike semantic_keep_list (all-pairs
    validation form), this runs the candidates= contract you'd actually
    deploy at 100 TB. The poly coefficient family is plain bounded integer
    arithmetic, so the DuckDB oracle reproduces the EXACT buckets and
    candidate graph — full hash check, not rows-only. Recall vs the
    all-pairs keep-list is gated separately by semantic_lsh_recall."""
    emb = _cast_double_embeddings(spark, sf)
    cands = similarity.lsh_candidate_pairs(
        emb, n_planes=3, n_tables=12, hash_fn="poly")
    return similarity.semantic_dedup_keep_list(
        emb, threshold=0.30, candidates=cands)


def _q_semantic_lsh_recall(spark, sf):
    """Recall of the poly-family LSH candidate graph against the exact
    all-pairs cosine graph at the semantic-dedup operating point
    (threshold 0.30, 3 planes x 12 tables — the same parameters
    semantic_keep_list_lsh runs). Both sides deterministic, so the DuckDB
    oracle value-checks the recall NUMBER itself, not just a bound."""
    emb = _cast_double_embeddings(spark, sf)
    rec = similarity.lsh_pair_recall(emb, 0.30, n_planes=3, n_tables=12,
                                     hash_fn="poly")
    return rec.select("n_exact", "n_hit",
                      F.round("recall", 6).alias("recall"))


def _q_semantic_gate(spark, sf):
    """Compound gate (r11 registry consolidation — folds the former
    semantic_keep_list / semantic_keep_list_lsh / semantic_lsh_recall
    entries): the exact all-pairs keep-list (validation form), the LSH
    scale path's keep-list (the candidates= contract you'd deploy at
    100 TB), and the recall of the LSH candidate graph against the exact
    graph, all at the same operating point (threshold 0.30, poly planes
    3 x 12). One row per vector with keep_exact / keep_lsh flags plus the
    recall scalars broadcast onto every row — every former value check
    survives in the one oracle. The folded shapes remain priced
    individually via the module-level _q_semantic_* callables."""
    ex = _q_semantic_keep_list(spark, sf).withColumnRenamed(
        "keep", "keep_exact")
    lsh = _q_semantic_keep_list_lsh(spark, sf).withColumnRenamed(
        "keep", "keep_lsh")
    rec = _q_semantic_lsh_recall(spark, sf)
    return ex.join(lsh, "id").crossJoin(F.broadcast(rec))


def _skewed_embeddings(spark, sf):
    """Zipfian-bucket LSH fixture: 20% of the corpus (vec_id % 5 == 0)
    collapses onto one all-ones direction — every hot vector lands in the
    SAME (table, bucket) cell of every table, the adversarial shape for
    the candidate self-join."""
    emb = load_table(spark, sf, "embeddings")
    hot = F.transform(F.col("embedding"), lambda x: F.lit(1.0))
    cold = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return emb.select(
        "vec_id",
        F.when(F.col("vec_id") % 5 == 0, hot).otherwise(cold)
        .alias("embedding"))


def _q_lsh_skew_uncapped(spark, sf):
    """UNCAPPED hyperplane-LSH candidate join on the Zipfian fixture —
    the quadratic blowup the r6 verdict flagged, measured: the 20% hot
    cluster forms its full clique (n_hot²/2 pairs). Poly plane family, so
    the DuckDB oracle reproduces the exact candidate graph (counts +
    id checksum value-checked). The bench pair row with lsh_skew_capped
    records the cap's effect as a number (BASELINE.md r7)."""
    emb = _skewed_embeddings(spark, sf)
    cands = similarity.lsh_candidate_pairs(
        emb, n_planes=3, n_tables=2, hash_fn="poly", max_bucket_size=None)
    out = cands.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(((F.col("id_a") % 5 == 0) & (F.col("id_b") % 5 == 0))
              .cast("long")).alias("hot_pairs"),
        F.sum(F.col("id_a") + F.col("id_b")).alias("sum_ids"))
    return attach_cached(out, *getattr(cands, "_pps_cached", ()))


def _q_lsh_skew_capped(spark, sf):
    """CAPPED twin (max_bucket_size=16 — below the hot-cluster size at
    every gate/bench SF, so the guard provably engages): oversized
    buckets are lazily
    hash-down-sampled before the self-join, so the hot cluster can no
    longer produce its clique. The cap's sampling is xxhash64-seeded
    (not ANSI-reproducible), so the oracle pins invariants instead of
    the exact count: n_hot is value-checked SQL, and the capped pair
    count must sit strictly below the hot clique while staying non-empty
    — booleans the oracle pins TRUE."""
    emb = _skewed_embeddings(spark, sf)
    cands = similarity.lsh_candidate_pairs(
        emb, n_planes=3, n_tables=2, hash_fn="poly", max_bucket_size=16)
    n_hot = emb.where(F.col("vec_id") % 5 == 0).count()
    out = cands.agg(
        F.lit(n_hot).cast("long").alias("n_hot"),
        (F.count(F.lit(1)) < F.lit(n_hot * (n_hot - 1) // 2))
        .alias("below_hot_clique"),
        (F.count(F.lit(1)) > 0).alias("has_pairs"))
    return attach_cached(out, *getattr(cands, "_pps_cached", ()))


def _q_q6_forecast(spark, sf):
    """TPC-H Q6-shape revenue-change forecast: one tight scan with every
    predicate pushed to parquet (shipdate year + discount band + quantity
    cap), one scalar aggregate. The classic 'is the scan actually pruned'
    query — `PushedFilters` must carry all three predicates."""
    li = load_table(spark, sf, "lineitem")
    f = li.where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05) & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24))
    return f.agg(
        F.sum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
        F.count(F.lit(1)).alias("n_items"))


def _q_q3_shipping(spark, sf):
    """TPC-H Q3-shape shipping priority: segment-filtered customer dim
    broadcast into orders, fact join on the order key, per-order revenue,
    top-10 by revenue via TakeOrdered (no global sort — each partition
    contributes its local top-k). Ties broken by order key for
    deterministic output."""
    cust = (load_table(spark, sf, "customer")
            .where(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey"))
    orders = (load_table(spark, sf, "orders")
              .where(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
              .select("o_orderkey", "o_custkey", "o_orderpriority"))
    li = (load_table(spark, sf, "lineitem")
          .where(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    joined = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")))
    rev = (joined.groupBy("l_orderkey", "o_orderpriority")
           .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .alias("revenue")))
    return rev.orderBy(F.col("revenue").desc(), F.col("l_orderkey")).limit(10)


def _q_q5_local_supplier(spark, sf):
    """TPC-H Q5-shape local-supplier revenue: six-table join where the
    customer and supplier sides must land in the SAME nation (the
    c_nationkey = s_nationkey correlation), restricted to one region and
    a one-year order window, grouped by nation.

    Scale shape: region⋈nation is a 5-row composite — broadcast it into
    BOTH the customer and supplier sides so each becomes a map-side
    semi-reduction before the only real shuffles (lineitem⋈orders on the
    order key, then the supplier-nation correlation). Customer and
    supplier carry only their key + nationkey columns into the join;
    date + region predicates prune at the scans. At 100 TB the single
    big exchange is lineitem⋈orders; AQE picks broadcast for the
    nation-filtered customer/supplier sides while they fit."""
    nr = (load_table(spark, sf, "nation")
          .join(F.broadcast(load_table(spark, sf, "region")
                            .where(F.col("r_name") == "ASIA")),
                F.col("n_regionkey") == F.col("r_regionkey"))
          .select("n_nationkey", "n_name"))
    cust = (load_table(spark, sf, "customer")
            .join(F.broadcast(nr), F.col("c_nationkey") == F.col("n_nationkey"))
            .select("c_custkey", "c_nationkey"))
    supp = (load_table(spark, sf, "supplier")
            .join(F.broadcast(nr.select("n_nationkey")),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", "s_nationkey"))
    orders = (load_table(spark, sf, "orders")
              .where((F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
                     & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")))
              .select("o_orderkey", "o_custkey"))
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    joined = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(cust, F.col("o_custkey") == F.col("c_custkey"))
              .join(supp, (F.col("l_suppkey") == F.col("s_suppkey"))
                    & (F.col("c_nationkey") == F.col("s_nationkey")))
              .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey")))
    return (joined.groupBy("n_name")
            .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
                 .alias("revenue"))
            .orderBy(F.col("revenue").desc(), F.col("n_name")))


def _q_q18_large_orders(spark, sf):
    """TPC-H Q18-shape large-volume orders: two-phase quantity rollup on
    the fact (partial map-side sum → HAVING filter at order grain), then
    the tiny surviving key set joins back to orders and customer, top-100
    by total price via TakeOrdered (no global sort).

    Scale shape: the fact is exchanged once (the l_orderkey aggregation,
    map-side combined to order grain before the wire). The orders⋈big
    join carries a ``shuffle_hash`` hint on the HAVING-bounded frame —
    measured r7: AQE CANNOT see the bound (the HAVING filter runs
    post-shuffle inside the join stage, so runtime stats at the exchange
    boundary are pre-filter, order-grain-sized), and with orders past
    any broadcast threshold the statistics fallback is a SortMergeJoin
    that sorts the whole orders shuffle. The hint pins the statistics-
    independent right plan instead: ShuffledHashJoin BUILDING ON the
    bounded frame — hash map is ~result-sized per partition, orders
    streams through unsorted; identical exchange count, no sort of the
    fact side at any SF (plan test: TestPlanShape.test_q18_*_build_side).
    The top-100 is TakeOrderedAndProject — each partition ships 100
    rows, not a sort of the corpus."""
    li = load_table(spark, sf, "lineitem")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("total_qty"))
           .where(F.col("total_qty") > 300)
           .hint("shuffle_hash"))
    orders = load_table(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    cust = load_table(spark, sf, "customer").select("c_custkey", "c_name")
    out = (orders.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
           .join(cust, F.col("o_custkey") == F.col("c_custkey"))
           .select("c_name", "c_custkey", "o_orderkey",
                   F.unix_micros(F.col("o_orderdate").cast("timestamp"))
                   .alias("o_orderdate_us"),
                   "o_totalprice", "total_qty"))
    return out.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey")).limit(100)


def _q_plan_lint_gate(spark, sf):
    """Invariant-row gate for the plan scale linter (plans/lint.py):
    lint the Q1/Q5/Q18 plans and emit the counts that must hold for the
    engine's own flagship queries — zero cartesian products, zero
    unbounded single-partition exchanges, zero row-at-a-time Python
    UDFs, zero error/warn findings, map-side partial aggregation
    present, and the Q5 dim broadcasts in place. The oracle is the
    constant row those invariants pin; any plan regression (or linter
    regression) flips a value and hash-mismatches."""
    from pandas_plus_spark.plans import lint, plan_stats
    tot_cart = tot_single = tot_rowudf = tot_bad = 0
    partial_all = True
    q5_bcast = False
    for name in ("q1_pricing_summary", "q5_local_supplier",
                 "q18_large_orders"):
        df = queries()[name](spark, sf)
        s = plan_stats(df)
        tot_cart += s["cartesian_products"]
        tot_single += s["single_partition_exchanges"]
        tot_rowudf += s["row_udfs"]
        partial_all = partial_all and s["has_partial_agg"]
        tot_bad += sum(1 for f in lint(df) if f.severity in ("error", "warn"))
        if name == "q5_local_supplier":
            q5_bcast = s["broadcast_joins"] >= 2
    return spark.createDataFrame(
        [(tot_cart, tot_single, tot_rowudf, tot_bad,
          bool(partial_all), bool(q5_bcast))],
        "n_cartesian long, n_single_partition long, n_row_udfs long, "
        "n_error_warn long, partial_agg_all boolean, q5_broadcasts boolean")


def _q_hll_merge_gate(spark, sf):
    """Mergeable-HLL gate (functions/sketches.py): per-slice sketches of
    orders.o_custkey (slice = o_orderkey % 4, the ingestion-increment
    shape) union into per-priority rollups; the gate pins (a) the
    MERGE-STABILITY property — the merged estimate tracks the single-pass
    estimate within register resolution (≤ 3% + 2 here; the union
    operates on sketch state, so accuracy does NOT degrade with the
    number of increments merged, but Spark's HLL_4/union-gadget mode
    transitions make the estimates near-, not bit-, identical past the
    sparse regime — measured ≤ 1.4% at sf0.01, bit-equal at sf0.001) —
    and (b) estimate accuracy within 5% of exact countDistinct for BOTH
    paths. exact_n is the value check (DuckDB reproduces it); the two
    invariants are booleans the oracle pins TRUE. Scale shape: one
    map-side-combining exchange per aggregation, sketch-sized (~2.5 KB)
    rows on the wire, rollups never rescan raw data."""
    from pandas_plus_spark.functions import sketches

    orders = load_table(spark, sf, "orders")
    sliced = orders.withColumn("slice", F.col("o_orderkey") % 4)
    merged = sketches.merge_sketches(
        sketches.nunique_sketches(sliced, ["o_orderpriority", "slice"],
                                  "o_custkey"),
        "o_orderpriority", estimate_col="merged_est")
    single = sketches.merge_sketches(
        sketches.nunique_sketches(orders, "o_orderpriority", "o_custkey"),
        "o_orderpriority", estimate_col="single_est")
    exact = orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("exact_n"))
    return (exact.join(merged, "o_orderpriority")
            .join(single, "o_orderpriority")
            .select(
                "o_orderpriority", "exact_n",
                (F.abs(F.col("merged_est") - F.col("single_est"))
                 <= 0.03 * F.col("exact_n") + 2)
                .alias("merged_close_single"),
                ((F.abs(F.col("merged_est") - F.col("exact_n"))
                  <= 0.05 * F.col("exact_n") + 2)
                 & (F.abs(F.col("single_est") - F.col("exact_n"))
                    <= 0.05 * F.col("exact_n") + 2)).alias("rel_err_ok")))


def _q_streaming_neardup(spark, sf):
    """Streaming ingestion near-dup gate (streaming/dedup.py
    neardup_filtered_stream): replay the %5 "new batch" docs as a file
    stream; each micro-batch runs the incremental_dedup pipeline (exact
    sha + poly-LSH + Jaccard verify) against the static reference corpus
    inside foreachBatch — Spark's sanctioned seam for per-batch
    stream-vs-reference logic — and only ACCEPTED rows reach the parquet
    sink. availableNow replay == the batch anti-join oracle."""
    import tempfile

    from pandas_plus_spark.streaming import neardup_filtered_stream

    docs = load_table(spark, sf, "documents")
    new_df = docs.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", "text", "lang", "source")
    ref_df = docs.filter(F.col("doc_id") % 5 != 0).select("doc_id", "text")
    src = tempfile.mkdtemp(prefix="pps_neardup_src_")
    new_df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(new_df.schema).parquet(src)

    out_dir = tempfile.mkdtemp(prefix="pps_neardup_out_")

    def sink(accepted, batch_id):
        accepted.write.mode("append").parquet(out_dir)

    ckpt = tempfile.mkdtemp(prefix="pps_neardup_ckpt_")
    q = (neardup_filtered_stream(
            stream, ref_df, "text", "doc_id", sink,
            threshold=0.3, num_hashes=8, bands=4, hash_fn="poly")
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return (spark.read.schema(new_df.schema).parquet(out_dir)
            .select("doc_id", "lang", "source"))


def _q_dedup_exact_canonical(spark, sf):
    """Exact dedup over the CANONICAL text form (functions/text.py
    normalize_text: lowercase + whitespace collapse) — case/spacing
    variants of the same content collapse to one representative. Same
    32-byte-key shuffle shape as dedup_exact; the normalization is
    map-side expression work on the scan."""
    docs = load_table(spark, sf, "documents")
    canon = docs.select("doc_id", tx.normalize_text("text").alias("text"))
    return dedup.exact_dedup(canon, "text", "doc_id")


def _q_containment_pairs(spark, sf):
    """Asymmetric n-gram containment (|A∩B| / min(|A|,|B|)) — catches
    sub-document duplication (quoting/embedding) that symmetric Jaccard
    under-scores when document sizes differ. Same all-pairs verify shape
    as trigram_jaccard_pairs (validation scale; the scale path feeds LSH
    candidates)."""
    docs = load_table(spark, sf, "documents")
    return dedup.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.4,
                                     metric="containment")


def _q_semantic_contamination(spark, sf):
    """Embedding-space benchmark decontamination
    (similarity.semantic_contamination): vectors with vec_id % 20 == 0
    stand in for the benchmark/eval set; every remaining corpus vector is
    scored by its max cosine against the broadcast benchmark and flagged
    at 0.8 — the semantic complement of the 8-gram contamination query."""
    emb = _cast_double_embeddings(spark, sf)
    bench = emb.filter(F.col("vec_id") % 20 == 0)
    corpus = emb.filter(F.col("vec_id") % 20 != 0)
    return similarity.semantic_contamination(corpus, bench, threshold=0.8)


def _q_pack_gate(spark, sf):
    """Whole-document bin-packing invariants gate (packing.pack_first_fit,
    FFD inside deterministic hash shards). Bin packing's assignment is not
    SQL-expressible; its CONTRACT is — every doc packed exactly once, no
    non-oversize pack over budget, oversize packs are singletons, fill
    ratio of closed packs ≥ 50% (FFD guarantees > 50% for every pack with
    no successor that fits; budget ≪ shard token mass here). The oracle
    pins the expected invariant row, n_docs recomputed from the table."""
    docs = load_table(spark, sf, "documents").select(
        "doc_id", tx.token_count("text").alias("n_toks"))
    packed = packing.pack_first_fit(docs, "doc_id", "n_toks",
                                    budget=256, n_shards=8)
    per_pack = packed.groupBy("pack_id").agg(
        F.sum("n_toks").alias("pl"),
        F.count(F.lit(1)).alias("pn"),
        F.max(F.col("oversize").cast("int")).alias("po"))
    stats = packed.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("doc_id").alias("n_ids"))
    pstats = per_pack.agg(
        F.max(F.when(F.col("po") == 0, F.col("pl"))).alias("max_fill"),
        F.min(F.when(F.col("po") == 1, F.col("pn") == 1)).alias("ov_single"),
        (F.sum(F.when(F.col("po") == 0, F.col("pl")))
         / (F.lit(256.0) * F.sum(F.when(F.col("po") == 0, F.lit(1)))))
        .alias("util"))
    return stats.crossJoin(pstats).select(
        F.col("n_rows").cast("long").alias("n_docs"),
        (F.col("n_rows") == F.col("n_ids")).alias("all_packed_once"),
        (F.col("max_fill") <= 256).alias("no_overflow"),
        F.coalesce(F.col("ov_single"), F.lit(True)).alias("oversize_singletons"),
        (F.col("util") >= 0.5).alias("util_ok"))


def _q_pca_gate(spark, sf):
    """PCA invariants gate (similarity.pca_fit/pca_project): distributed
    Gram/moment accumulation via one Arrow-batched mapInPandas sweep,
    driver-side eigendecomposition of the d×d covariance, broadcast
    projection as JVM expression folds. The gate row pins orthonormality,
    top-8 variance capture, and the distributed mean ‖proj‖² == Σ
    eigenvalues identity (ann_recall's expected-row oracle pattern —
    eigendecomposition is not SQL-expressible, its invariants are)."""
    emb = load_table(spark, sf, "embeddings")
    return similarity.pca_gate(emb, "embedding", "vec_id", k=8,
                               min_explained=0.15)


def _q_quality_classifier(spark, sf):
    """fastText-style hashed-ngram linear classifier inference
    (operators/classify.py classifier_score): unigram+bigram features →
    poly_hash mod 512 buckets → deterministic affine pseudo-weights →
    sigmoid of the mean. Zero-shuffle map-side plan; the oracle reproduces
    every hash, weight, and the left-fold sum term-for-term."""
    docs = load_table(spark, sf, "documents")
    return classify.classifier_score(docs, "text", "doc_id", dim=512,
                                     ns=(1, 2), threshold=0.5)


def _q_bigram_ppl(spark, sf):
    """Interpolated bigram-LM perplexity quality signal
    (operators/ranking.py bigram_lm_score): Jelinek-Mercer mix of corpus
    bigram and unigram MLE."""
    docs = load_table(spark, sf, "documents")
    return ranking.bigram_lm_score(docs, "doc_id", "text", lam=0.8)


def _q_source_cap(spark, sf):
    """Per-source document cap (operators/sampling.py cap_per_key): at most
    40 docs per source, chosen by deterministic affine-uniform draw — the
    'no domain floods the mix' curation guard."""
    docs = load_table(spark, sf, "documents")
    return (sampling.cap_per_key(docs, "source", 40, "doc_id", seed=11)
            .select("source", "doc_id"))


def _q_global_sample(spark, sf):
    """Deterministic global exact-N sample (operators/sampling.py
    global_sample_n): 200 rows with the smallest affine-uniform draw,
    TakeOrderedAndProject plan — no global sort."""
    docs = load_table(spark, sf, "documents")
    return (sampling.global_sample_n(docs, 200, "doc_id", seed=5)
            .select("doc_id", "source", "n_chars"))


# ---------------------------------------------------------------------- #
# registries
# ---------------------------------------------------------------------- #

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:

    # Registry order matters: the driver's correctness gate samples the
    # FIRST 50 entries; rotation is least-recently-driver-verified-first.
    # CADENCE INVARIANT (r8 restatement — the registry outgrew the old
    # three-round union): with N entries and a 50-entry window, every
    # entry gets a driver-side CORRECTNESS row at least every
    # ceil(N / 50) rounds (N = 187: ceil(187/50) = 4), the window head is
    # always (new entries, then never-verified, then re-verifications of
    # code changed this round, then the least-recently-verified), and the
    # EVERY-round bridge is the full-registry local oracle gate
    # (scripts/run_gate.py, 187/187 at sf0.01) + the pinned SUBSET in
    # tests/test_oracle_gate.py. The invariant is MACHINE-CHECKED:
    # scripts/check_rotation.py reads CORRECTNESS_r*.json history plus
    # this dict's order and fails if any entry's staleness would exceed
    # the cadence or the window head is not least-recently-verified-
    # first; tests/test_oracle_gate.py runs it in pytest.
    return {
        # --- r17 window head (driver samples the FIRST 50) ---
        # r17 rotation: the 37 entries at the 4-round cadence bound
        # (last driver-green r13) plus the 13 stalest r14 entries —
        # pure rotation; registry 187, zero rows-only, zero new
        # entries. Greedy sim stays feasible: r14 leftovers are due
        # r18, r15 entries r19.
        # last driver-green r13 (due now):
        "source_cap": _q_source_cap,
        "global_sample": _q_global_sample,
        "segment_revenue_bucketed": _q_segment_revenue_bucketed,
        "q6_forecast": _q_q6_forecast,
        "q3_shipping": _q_q3_shipping,
        "temperature_mixture": _q_temperature_mixture,
        "duplicated_spans": _q_duplicated_spans,
        "span_excision": _q_span_excision,
        "segment_revenue": _q_segment_revenue,
        "skew_topn_salted": _q_skew_topn_salted,
        "skew_topn_uniform": _q_skew_topn_uniform,
        "ann_recall": _q_ann_recall,
        "stratified_sample": _q_stratified_sample,
        "split_assign": _q_split_assign,
        "sample_per_group": _q_sample_per_group,
        "pack_chunks": _q_pack_chunks,
        "repetition_signals": _q_repetition_signals,
        "repetition_filter": _q_repetition_filter,
        "pii_scan": _q_pii_scan,
        "c4_filter": _q_c4_filter,
        "contamination": _q_contamination,
        "tfidf_top_terms": _q_tfidf_top_terms,
        "bm25_rank": _q_bm25_rank,
        "vocab_top": _q_vocab_top,
        "image_header_meta": _q_image_header_meta,
        "boilerplate_removal": _q_boilerplate_removal,
        "snapshot_diff": _q_snapshot_diff,
        "audio_pcm_features": _q_audio_pcm_features,
        "scatter_fit": _q_scatter_fit,
        "rolling_gate": _q_rolling_gate,
        "cumulative_gate": _q_cumulative_gate,
        "incremental_dedup": _q_incremental_dedup,
        "url_normalize": _q_url_normalize,
        "crawl_domain_stats": _q_crawl_domain_stats,
        "crawl_curation_pipeline": _q_crawl_curation_pipeline,
        "oov_rate": _q_oov_rate,
        "label_cohesion": _q_label_cohesion,
        # stalest r14 fills (due r18; the first 13 complete the window):
        "bpe_train_distributed": _q_bpe_train_distributed,
        "fuzzy_join_k2": _q_fuzzy_join_k2,
        "dedup_keep_best": _q_dedup_keep_best,
        "rolling_corr_cov": _q_rolling_corr_cov,
        "decontaminate": _q_decontaminate,
        "group_rolling_corr_scale": _q_group_rolling_corr_scale,
        "streaming_decontaminate": _q_streaming_decontaminate,
        "nanops_rowwise": _q_nanops_rowwise,
        "streaming_sessions": _q_streaming_sessions,
        "q1_pricing_summary": _q_q1_pricing_summary,
        "masked_sum": _q_masked_sum,
        "group_size": _q_size,
        "group_minmax": _q_minmax,
        "decontaminate_drop": _q_decontaminate_drop,
        "epoch_mixture": _q_epoch_mixture,
        "epoch_plan": _q_epoch_plan,
        "contamination_report": _q_contamination_report,
        "temperature_mixture_tokens": _q_temperature_mixture_tokens,
        "bpe_roundtrip": _q_bpe_roundtrip,
        "doc_chunks": _q_doc_chunks,
        "embedding_quantize": _q_embedding_quantize,
        "unigram_ppl": _q_unigram_ppl,
        "frame_sample": _q_frame_sample,
        "source_health": _q_source_health,
        "cumsum": _q_cumsum,
        "shift_masked": _q_shift_masked,
        "observed_only_false": _q_observed_only_false,
        "nation_revenue": _q_nation_revenue,
        "asof_join": _q_asof_join,
        "interval_join": _q_interval_join,
        "apply_zscore": _q_apply_zscore,
        "winnow_fingerprints": _q_winnow,
        "sessionize": _q_sessionize,
        "nanops_global": _q_nanops_global,
        "pretty_cut_bins": _q_pretty_cut,
        "bools_to_categorical": _q_bools_labels,
        "linear_combination": _q_lincomb,
        "dedup_exact": _q_dedup_exact,
        "doc_token_stats": _q_token_stats,
        "lang_id_pred": _q_lang_pred,
        "quality_score": _q_quality,
        "trigram_jaccard_pairs": _q_trigram_jaccard,
        "knn_cosine": _q_knn,
        "hll_merge_gate": _q_hll_merge_gate,
        "lsh_skew_uncapped": _q_lsh_skew_uncapped,
        "lsh_skew_capped": _q_lsh_skew_capped,
        "lsh_recall": _q_lsh_recall,
        "q18_large_orders": _q_q18_large_orders,
        "plan_lint_gate": _q_plan_lint_gate,
        "multimodal_image_meta": _q_multimodal_meta,
        "minhash_gate": _q_minhash_gate,
        "simhash_gate": _q_simhash_gate,
        "exact_substring_spans": _q_exact_substring_spans,
        "link_graph_rank": _q_link_graph_rank,
        "anchor_text_graph": _q_anchor_text_graph,
        "media_meta": _q_media_meta,
        "pdf_text_extract": _q_pdf_text_extract,
        "group_rolling_time_scale": _q_group_rolling_time_scale,
        "group_rolling_scale": _q_group_rolling_scale,
        "group_rank_scale": _q_group_rank_scale,
        "robots_filter": _q_robots_filter,
        "outlink_graph": _q_outlink_graph,
        "warc_ingest": _q_warc_ingest,
        "group_var_std": _q_var_std,
        "agg_callable": _q_agg_callable,
        "group_median": _q_median,
        "group_mode": _q_group_mode,
        "group_quantiles": _q_group_quantiles,
        "group_corr_cov": _q_group_corr_cov,
        "group_first_last": _q_first_last,
        "ratio": _q_ratio,
        "subset_ratio": _q_subset_ratio,
        "density": _q_density,
        "value_counts": _q_value_counts,
        "group_nunique": _q_nunique,
        "margins_sum": _q_margins_sum,
        "crosstab_pivot": _q_crosstab,
        "transform_sum": _q_transform_sum,
        "head_per_group": _q_head,
        "nth_last_per_group": _q_nth_last,
        "q5_local_supplier": _q_q5_local_supplier,
        "bloom_dedup": _q_bloom_dedup,
        "dedup_exact_canonical": _q_dedup_exact_canonical,
        "streaming_tumbling": _q_streaming_tumbling,
        "streaming_sliding": _q_streaming_sliding,
        "streaming_dedup": _q_streaming_dedup,
        "streaming_running": _q_streaming_running,
        "rolling_time": _q_rolling_time,
        "weighted_sample": _q_weighted_sample,
        "group_rank": _q_group_rank,
        "chunk_dedup": _q_chunk_dedup,
        "image_phash_dedup": _q_image_phash_dedup,
        "semantic_gate": _q_semantic_gate,
        "global_ordered": _q_global_ordered,
        "bigram_ppl": _q_bigram_ppl,
        "curation_pipeline": _q_curation_pipeline,
        "video_frame_sample": _q_video_frame_sample,
        "sitemap_urls": _q_sitemap_urls,
        "unicode_nfc": _q_unicode_nfc,
        "mojibake_repair": _q_mojibake_repair,
        # --- rotation tail (relative order preserved) ---
        "token_budget": _q_token_budget,
        "quantile_calibration": _q_quantile_calibration,
        "leakage_split": _q_leakage_split,
        "leakage_split_lsh": _q_leakage_split_lsh,
        "filter_groups": _q_filter_groups,
        "group_idxminmax": _q_group_idxminmax,
        "pct_change": _q_pct_change,
        "cumprod": _q_cumprod,
        "group_prod_any_all": _q_group_prod_any_all,
        "group_sem": _q_group_sem,
        "group_skew_kurt": _q_group_skew_kurt,
        "ngroup": _q_ngroup,
        "group_fill": _q_group_fill,
        "resample_agg": _q_resample_agg,
        "qcut_deciles": _q_qcut_deciles,
        "pivot_table_mean": _q_pivot_table_mean,
        "group_rank_methods": _q_group_rank_methods,
        "group_take": _q_group_take,
        "corrwith": _q_corrwith,
        "duplicated_flags": _q_duplicated_flags,
        "ewm_mean": _q_ewm_mean,
        "group_ohlc": _q_group_ohlc,
        "group_describe": _q_group_describe,
        "group_nlargest": _q_group_nlargest,
        "group_ffill_scale": _q_group_ffill_scale,
        "group_take_scale": _q_group_take_scale,
        "ewm_var_std": _q_ewm_var_std,
        "group_bfill_scale": _q_group_bfill_scale,
        "streaming_ewm": _q_streaming_ewm,
        "group_shift_scale": _q_group_shift_scale,
        "group_cumminmax_scale": _q_group_cumminmax_scale,
        "cosine_neardup": _q_cosine_neardup,
        "dup_clusters": _q_dup_clusters,
        "dedup_keep_list": _q_dedup_keep_list,
        "streaming_neardup": _q_streaming_neardup,
        "pca_gate": _q_pca_gate,
        "pack_gate": _q_pack_gate,
        "ess_excision": _q_ess_excision,
        "fuzzy_dedup": _q_fuzzy_dedup,
        "weighted_pagerank": _q_weighted_pagerank,
        "personalized_pagerank": _q_personalized_pagerank,
        "fuzzy_join": _q_fuzzy_join,
        "rolling_quantile": _q_rolling_quantile,
        "expanding_stats": _q_expanding_stats,
        "group_expanding_scale": _q_group_expanding_scale,
        "asof_nearest": _q_asof_nearest,
        "semantic_contamination": _q_semantic_contamination,
        "containment_pairs": _q_containment_pairs,
        "ivf_index_gate": _q_ivf_index_gate,
        "quality_classifier": _q_quality_classifier,
    }


_SQL_DECONTAMINATE = """
            -- composed contamination -> excision, closed-form: the
            -- class block is each doc's ONLY ref-overlapping content,
            -- so clean_text is filler + trailer verbatim and n_removed
            -- the block length
            SELECT doc_id,
                   array_to_string(
                     list_transform(range(0, CAST(3 + doc_id % 5 AS BIGINT)),
                       j -> 'f' || doc_id || 'x' || j)
                     || list_transform(range(0, CAST(4 + doc_id % 3 AS BIGINT)),
                       j -> 'g' || doc_id || 'x' || j),
                     ' ') AS clean_text,
                   CAST(8 + (doc_id % 10) % 5 AS BIGINT) AS n_removed
            FROM documents WHERE doc_id < 400
        """


_SQL_ROLLING_CORR_COV = """
            -- the engine's exact windowed-sum decomposition spelled
            -- out: dyadic inputs make every sum exact, so the final
            -- doubles are the same IEEE ops on the same values
            WITH base AS (
                SELECT event_id, event_type,
                       CASE WHEN event_id % 11 <> 3
                            THEN CAST(event_id % 97 AS DOUBLE) / 64
                       END AS x,
                       CASE WHEN event_id % 13 <> 5
                            THEN CAST((event_id * 3) % 101 AS DOUBLE) / 64
                                 - CAST(event_id % 89 AS DOUBLE) / 128
                       END AS y
                FROM events
            ), anch AS (
                -- r15: the engine subtracts a per-group pair-complete
                -- min anchor before the windowed sums (shift-invariant
                -- robustness); anchored dyadics are still dyadic so
                -- the sums stay exact and bit-identical
                SELECT *,
                       min(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                                THEN x END)
                           OVER (PARTITION BY event_type) AS ax,
                       min(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                                THEN y END)
                           OVER (PARTITION BY event_type) AS ay
                FROM base
            ), s AS (
                SELECT event_id, event_type, x, y,
                       count(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                                  THEN 1 END) OVER w AS n,
                       sum(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                                THEN x - ax END) OVER w AS sx,
                       sum(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                                THEN y - ay END) OVER w AS sy,
                       sum(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                                THEN (x - ax) * (y - ay) END) OVER w AS sxy,
                       sum(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                                THEN (x - ax) * (x - ax) END) OVER w AS sxx,
                       sum(CASE WHEN x IS NOT NULL AND y IS NOT NULL
                                THEN (y - ay) * (y - ay) END) OVER w AS syy
                FROM anch
                WINDOW w AS (PARTITION BY event_type ORDER BY event_id
                             ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
            )
            SELECT event_id, event_type, x, y,
                   CASE WHEN n >= 3 THEN
                        (sxy - sx * sy / CAST(n AS DOUBLE))
                          / (CAST(n AS DOUBLE) - 1.0) END AS rcov,
                   CASE WHEN n >= 3
                         AND (sxx - sx * sx / CAST(n AS DOUBLE)) > 0
                         AND (syy - sy * sy / CAST(n AS DOUBLE)) > 0
                        THEN (sxy - sx * sy / CAST(n AS DOUBLE))
                          / sqrt((sxx - sx * sx / CAST(n AS DOUBLE))
                                 * (syy - sy * sy / CAST(n AS DOUBLE)))
                   END AS rcorr
            FROM s
        """


def oracle_sql() -> dict[str, str]:
    lang_defs, lang_case = _sql_lang_scores()
    trigrams = _sql_trigrams("toks")
    fp = tx.sql_poly_hash("text")
    stop_list = ", ".join(f"'{w}'" for w in tx.LANG_MARKERS["en"])
    u7 = sampling.sql_affine_uniform("doc_id", seed=7)
    u11 = sampling.sql_affine_uniform("doc_id", seed=11)
    u5 = sampling.sql_affine_uniform("doc_id", seed=5)
    split_case = sampling.sql_split_assign(
        "doc_id", {"train": 8.0, "valid": 1.0, "test": 1.0}, seed=3)
    split_case_d = sampling.sql_split_assign(
        "d.doc_id", {"train": 8.0, "valid": 1.0, "test": 1.0}, seed=3)
    # shared CTE chain for the repetition queries: inject determinstic
    # duplication (every 5th doc doubled), line stats + top-2-gram counts
    _rep_ctes = f"""
        d AS (
            SELECT doc_id, lang,
                   CASE WHEN doc_id % 5 = 0 THEN text || chr(10) || text
                        ELSE text END AS text
            FROM documents
        ), lx AS (
            SELECT doc_id,
                   list_filter(string_split(text, chr(10)), l -> l <> '') AS ls
            FROM d
        ), lstats AS (
            SELECT doc_id,
                   CAST(len(ls) AS BIGINT) AS n_lines,
                   CASE WHEN len(ls) > 0
                        THEN 1.0 - len(list_distinct(ls))::DOUBLE / len(ls)
                        ELSE 0.0 END AS dup_line_frac,
                   CASE WHEN list_sum(list_transform(ls, l -> CAST(length(l) AS BIGINT))) > 0
                        THEN 1.0 - list_sum(list_transform(list_distinct(ls), l -> CAST(length(l) AS BIGINT)))::DOUBLE
                             / list_sum(list_transform(ls, l -> CAST(length(l) AS BIGINT)))
                        ELSE 0.0 END AS dup_line_char_frac
            FROM lx
        ), tk AS (
            SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
                   {_TOKS} AS toks
            FROM d
        ), grams AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(toks)),
                          i -> toks[i] || ' ' || toks[i+1])) AS gram
            FROM tk
        ), cnts AS (
            SELECT doc_id, gram, count(*) AS cnt
            FROM grams GROUP BY doc_id, gram
        ), top AS (
            SELECT doc_id, gram, cnt FROM (
                SELECT doc_id, gram, cnt,
                       row_number() OVER (PARTITION BY doc_id
                                          ORDER BY cnt DESC, gram DESC) AS rn
                FROM cnts) WHERE rn = 1
        )"""

    poly_tok = tx.sql_poly_hash("t")
    bigrams = _sql_ngrams("toks", 2)
    lam, one_minus_lam = 0.8, repr(1.0 - 0.8)

    return {
        # stored-vs-inline IVF equality is computed in-engine; the oracle
        # pins the expected invariant row
        "ivf_index_gate": """
            SELECT TRUE AS identical, TRUE AS nonempty
        """,
        "dedup_exact_canonical": r"""
            WITH c AS (SELECT doc_id,
                              trim(regexp_replace(lower(text), '\s+', ' ', 'g'))
                                AS text
                       FROM documents)
            SELECT sha256(text) AS content_hash,
                   min(doc_id) AS keep_id,
                   count(*) AS n_copies
            FROM c GROUP BY text
        """,
        "containment_pairs": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            g AS (SELECT doc_id, list_distinct({trigrams}) AS grams FROM t)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.grams, b.grams))::DOUBLE
                     / least(len(a.grams), len(b.grams)) AS containment
            FROM g a, g b
            WHERE a.doc_id < b.doc_id
              AND least(len(a.grams), len(b.grams)) > 0
              AND len(list_intersect(a.grams, b.grams))::DOUBLE
                    / least(len(a.grams), len(b.grams)) >= 0.4
        """,
        "semantic_contamination": """
            WITH e AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings
            ), n AS (
                SELECT vec_id, v,
                       sqrt(list_reduce(list_prepend(0.0,
                            list_transform(v, x -> x * x)), (a, x) -> a + x)) AS nrm
                FROM e
            ), sims AS (
                SELECT c.vec_id, b.vec_id AS bid,
                       list_reduce(list_prepend(0.0,
                            list_transform(range(1, len(c.v) + 1),
                                           i -> c.v[i] * b.v[i])), (a, x) -> a + x)
                         / (c.nrm * b.nrm) AS s
                FROM n c, n b
                WHERE c.vec_id % 20 != 0 AND b.vec_id % 20 = 0
            )
            SELECT vec_id, bid AS nearest_bench_id, s AS max_sim,
                   s >= 0.8 AS contaminated
            FROM sims
            QUALIFY row_number() OVER (PARTITION BY vec_id
                                       ORDER BY s DESC, bid ASC) = 1
        """,
        # bin-packing's assignment is not SQL-expressible; the oracle pins
        # the invariant row (n_docs recomputed independently)
        "pack_gate": """
            SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   TRUE AS all_packed_once, TRUE AS no_overflow,
                   TRUE AS oversize_singletons, TRUE AS util_ok
            FROM documents
        """,
        # eigendecomposition is not SQL-expressible; the oracle pins the
        # gate's expected invariant row (the ann_recall pattern)
        "pca_gate": """
            SELECT CAST(8 AS INT) AS k, CAST(64 AS INT) AS dim,
                   TRUE AS orthonormal_ok, TRUE AS var_capture_ok,
                   TRUE AS proj_energy_ok
        """,
        # accepted = new batch minus every exact/near match vs the reference
        # (the incremental_dedup twin as a subquery; DuckDB allows a CTE
        # chain inside a derived table)
        "streaming_neardup": f"""
            SELECT d.doc_id, d.lang, d.source
            FROM documents d
            WHERE d.doc_id % 5 = 0
              AND d.doc_id NOT IN (
                  SELECT doc_id FROM ({_sql_incremental_dedup()}))
        """,
        # fastText-style hashed-ngram linear classifier: same tokenization,
        # same per-token poly hash, same fastText word-hash combine
        # (h1*116049371 + h2 mod 1e9+7) for bigram features, same affine
        # pseudo-weights w(b) = ((b*2654435761) % 1000003)/1000003 - 0.5,
        # same left-fold sum and sigmoid(mean) as classify.classifier_score.
        "quality_classifier": f"""
            WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            th AS (SELECT doc_id,
                          list_transform(toks, t -> {poly_tok}) AS hs
                   FROM tk),
            f AS (SELECT doc_id,
                         list_concat(
                             list_transform(hs, h -> h % 512),
                             CASE WHEN len(hs) >= 2 THEN
                                 list_transform(range(1, len(hs)),
                                     i -> ((hs[i] * 116049371 + hs[i+1])
                                           % 1000000007) % 512)
                             ELSE [] END
                         ) AS bk
                  FROM th),
            s AS (SELECT doc_id, len(bk) AS n_feats,
                         CASE WHEN len(bk) > 0 THEN
                             1.0 / (1.0 + exp(-(0.0 + list_reduce(
                                 list_prepend(0.0, list_transform(bk,
                                     b -> CAST((b * 2654435761) % 1000003
                                              AS DOUBLE) / 1000003.0 - 0.5)),
                                 (a, x) -> a + x) / len(bk))))
                         END AS score
                  FROM f)
            SELECT doc_id, CAST(n_feats AS INT) AS n_feats, score,
                   score >= 0.5 AS keep
            FROM s
        """,
        # interpolated bigram LM: identical mixture arithmetic
        # lam*(bcnt/prev_cnt) + (1-lam)*(cur_cnt/total), avg of ln p per doc
        "bigram_ppl": f"""
            WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            ex AS (SELECT doc_id, unnest(toks) AS term FROM tk),
            uc AS (SELECT term, count(*) AS ucnt FROM ex GROUP BY term),
            tot AS (SELECT CAST(sum(ucnt) AS DOUBLE) AS total FROM uc),
            bg AS (SELECT doc_id, unnest({bigrams}) AS gram FROM tk),
            b2 AS (SELECT doc_id, gram,
                          string_split(gram, ' ')[1] AS prev,
                          string_split(gram, ' ')[2] AS cur
                   FROM bg),
            bc AS (SELECT gram, count(*) AS bcnt FROM b2 GROUP BY gram),
            pd AS (SELECT doc_id, count(*) AS n_bigrams,
                          avg(ln({lam} * (CAST(bcnt AS DOUBLE) / up.ucnt)
                                 + {one_minus_lam}
                                   * (CAST(uc2.ucnt AS DOUBLE) / total)))
                            AS mlnp
                   FROM b2
                   JOIN bc USING (gram)
                   JOIN uc up ON b2.prev = up.term
                   JOIN uc uc2 ON b2.cur = uc2.term
                   CROSS JOIN tot
                   GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(COALESCE(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
                   CASE WHEN pd.n_bigrams > 0 THEN -mlnp END AS xent,
                   CASE WHEN pd.n_bigrams > 0 THEN exp(-mlnp) END AS ppl
            FROM documents d LEFT JOIN pd USING (doc_id)
        """,
        "source_cap": f"""
            SELECT source, doc_id FROM documents
            QUALIFY row_number() OVER (PARTITION BY source
                                       ORDER BY {u11}, doc_id) <= 40
        """,
        "global_sample": f"""
            SELECT doc_id, source, n_chars FROM documents
            ORDER BY {u5}, doc_id LIMIT 200
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   sum(l_quantity) AS sum_qty,
                   CAST(sum(CAST(l_extendedprice AS DECIMAL(27,6))) AS DOUBLE)
                     AS sum_base_price,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE)
                     AS sum_disc_price,
                   avg(l_quantity) AS avg_qty,
                   avg(l_extendedprice) AS avg_price,
                   avg(l_discount) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "masked_sum": """
            SELECT l_returnflag,
                   sum(l_quantity) FILTER (WHERE l_discount > 0.05) AS sum_qty_hidisc,
                   count(l_quantity) FILTER (WHERE l_discount > 0.05) AS n_hidisc
            FROM lineitem GROUP BY l_returnflag
        """,
        "group_size": """
            SELECT l_returnflag, l_linestatus, count(*) AS size
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "group_minmax": """
            SELECT l_returnflag,
                   min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
                   min(l_extendedprice) AS min_price, max(l_extendedprice) AS max_price
            FROM lineitem GROUP BY l_returnflag
        """,
        "group_var_std": """
            SELECT l_returnflag,
                   var_samp(l_quantity) AS var1_qty,
                   stddev_samp(l_quantity) AS std1_qty,
                   var_pop(l_quantity) AS var0_qty,
                   (sum(l_quantity*l_quantity) - sum(l_quantity)*sum(l_quantity)/count(l_quantity))
                     / (count(l_quantity) - 2) AS var2_qty,
                   sum(l_quantity*l_quantity) AS ss_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        "group_mode": """
            WITH qm AS (
                SELECT l_returnflag, l_quantity AS l_quantity_mode
                FROM lineitem WHERE l_quantity IS NOT NULL
                GROUP BY l_returnflag, l_quantity
                QUALIFY row_number() OVER (
                    PARTITION BY l_returnflag
                    ORDER BY count(*) DESC, l_quantity ASC) = 1
            ),
            sm AS (
                SELECT l_returnflag, l_linestatus AS l_linestatus_mode
                FROM lineitem WHERE l_linestatus IS NOT NULL
                GROUP BY l_returnflag, l_linestatus
                QUALIFY row_number() OVER (
                    PARTITION BY l_returnflag
                    ORDER BY count(*) DESC, l_linestatus ASC) = 1
            )
            SELECT l_returnflag, qm.l_quantity_mode, sm.l_linestatus_mode
            FROM qm FULL JOIN sm USING (l_returnflag)
        """,
        "group_quantiles": """
            SELECT l_returnflag,
                   round(quantile_cont(l_quantity, 0.25), 6) AS l_quantity_q0_25,
                   round(quantile_cont(l_quantity, 0.5), 6) AS l_quantity_q0_5,
                   round(quantile_cont(l_quantity, 0.75), 6) AS l_quantity_q0_75,
                   round(quantile_cont(l_extendedprice, 0.25), 6) AS l_extendedprice_q0_25,
                   round(quantile_cont(l_extendedprice, 0.5), 6) AS l_extendedprice_q0_5,
                   round(quantile_cont(l_extendedprice, 0.75), 6) AS l_extendedprice_q0_75
            FROM lineitem GROUP BY l_returnflag
        """,
        "group_corr_cov": """
            SELECT l_returnflag,
                   round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
                   round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qp,
                   round(covar_pop(l_quantity, l_extendedprice), 4) AS covp_qp
            FROM lineitem GROUP BY l_returnflag
        """,
        "agg_callable": """
            SELECT l_returnflag,
                   sum(l_quantity) AS sum_qty,
                   avg(l_discount) AS mean_disc,
                   max(l_extendedprice) AS max_price
            FROM lineitem
            GROUP BY l_returnflag
        """,
        "group_median": """
            SELECT l_returnflag,
                   median(l_quantity) AS med_qty,
                   median(l_discount) AS med_disc
            FROM lineitem GROUP BY l_returnflag
        """,
        "group_first_last": """
            -- DuckDB 1.0's first()/last() ignore aggregate ORDER BY; use
            -- explicit unbounded window frames instead (data has no NULL
            -- values, so first == first-non-null here). (l_orderkey,
            -- l_linenumber) has duplicates in the synthetic data, so each
            -- window adds its value column as the final tie-break — matching
            -- the engine's struct-ordered min/max.
            SELECT DISTINCT l_returnflag,
                   first_value(l_quantity) OVER wq AS first_qty,
                   last_value(l_extendedprice) OVER wp AS last_price
            FROM lineitem
            WINDOW wq AS (PARTITION BY l_returnflag
                          ORDER BY l_orderkey, l_linenumber, l_quantity
                          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING),
                   wp AS (PARTITION BY l_returnflag
                          ORDER BY l_orderkey, l_linenumber, l_extendedprice
                          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        """,
        "ratio": """
            SELECT l_returnflag, sum(l_extendedprice) / sum(l_quantity) AS price_per_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        "subset_ratio": """
            SELECT l_returnflag,
                   sum(l_quantity) FILTER (WHERE l_discount > 0.05) / sum(l_quantity)
                     AS hidisc_qty_share
            FROM lineitem GROUP BY l_returnflag
        """,
        "density": """
            SELECT l_returnflag, l_linestatus,
                   100.0 * sum(l_quantity)
                     / sum(sum(l_quantity)) OVER (PARTITION BY l_returnflag) AS density
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "value_counts": """
            SELECT o_orderpriority, count(*) AS count,
                   count(*) / sum(count(*)) OVER () AS proportion
            FROM orders GROUP BY o_orderpriority
        """,
        "group_nunique": """
            SELECT l_returnflag,
                   count(DISTINCT l_partkey) AS n_parts,
                   count(DISTINCT l_suppkey) AS n_supps
            FROM lineitem GROUP BY l_returnflag
        """,
        "margins_sum": """
            SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'All' ELSE l_returnflag END
                     AS l_returnflag,
                   CASE WHEN GROUPING(l_linestatus) = 1 THEN 'All' ELSE l_linestatus END
                     AS l_linestatus,
                   sum(l_quantity) AS sum_qty
            FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        """,
        "crosstab_pivot": """
            SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'All' ELSE l_returnflag END
                     AS l_returnflag,
                   sum(l_quantity) FILTER (WHERE l_linestatus = 'F') AS "F",
                   sum(l_quantity) FILTER (WHERE l_linestatus = 'O') AS "O",
                   sum(l_quantity) AS "All"
            FROM lineitem GROUP BY ROLLUP(l_returnflag)
        """,
        "transform_sum": """
            SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
                   sum(l_quantity) OVER (PARTITION BY l_returnflag) AS qty_group_sum
            FROM lineitem
        """,
        "head_per_group": """
            SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity
            FROM lineitem
            QUALIFY row_number() OVER (PARTITION BY l_returnflag
                                       ORDER BY l_orderkey, l_linenumber,
                                                l_quantity) <= 2
        """,
        "nth_last_per_group": """
            SELECT l_returnflag, l_orderkey, l_linenumber, l_quantity
            FROM lineitem
            QUALIFY row_number() OVER (PARTITION BY l_returnflag
                                       ORDER BY l_orderkey DESC, l_linenumber DESC,
                                                l_quantity DESC) = 1
        """,
        "cumsum": """
            SELECT o_custkey, o_orderkey, o_totalprice,
                   sum(o_totalprice) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS o_totalprice_cumsum
            FROM orders
        """,
        "cumulative_gate": """
            SELECT event_id, user_id, value,
                   lag(value) OVER wo AS value_shift,
                   max(value) OVER wr AS value_cummax,
                   row_number() OVER wo - 1 AS cumcount,
                   value - lag(value) OVER wo AS value_diff
            FROM events
            WINDOW wo AS (PARTITION BY user_id ORDER BY ts, event_id),
                   wr AS (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "rolling_gate": """
            WITH base AS (
                SELECT event_id, user_id, value, ts,
                       (event_type != 'error') AS m,
                       sum(CASE WHEN event_type != 'error' THEN 1 ELSE 0 END)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS obs_idx
                FROM events
            ), obs AS (
                SELECT user_id, obs_idx,
                       CASE WHEN count(value) OVER w >= 1
                            THEN sum(value) OVER w END AS roll
                FROM base WHERE m
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            ), plain AS (
                SELECT event_id, user_id, value,
                       CASE WHEN count(value) OVER w3 >= 3
                            THEN sum(value) OVER w3 END AS value_rolling_sum,
                       CASE WHEN count(value) OVER w3 >= 1
                            THEN avg(value) OVER w3 END AS value_rolling_mean,
                       CASE WHEN count(value) OVER w5 >= 2
                            THEN min(value) OVER w5 END AS value_rolling_min,
                       CASE WHEN count(value) OVER w5 >= 2
                            THEN max(value) OVER w5 END AS value_rolling_max
                FROM events
                WINDOW w3 AS (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
                       w5 AS (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
            )
            SELECT p.event_id, p.user_id, p.value, p.value_rolling_sum,
                   p.value_rolling_mean, p.value_rolling_min,
                   p.value_rolling_max,
                   o.roll AS value_rolling_sum_masked
            FROM plain p
            JOIN base b ON p.event_id = b.event_id
            LEFT JOIN obs o
              ON b.user_id = o.user_id AND b.obs_idx = o.obs_idx
        """,
        "shift_masked": """
            WITH base AS (
                SELECT event_id, user_id, value, ts,
                       (event_type != 'error') AS m,
                       sum(CASE WHEN event_type != 'error' THEN 1 ELSE 0 END)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                         AS obs_idx
                FROM events
            ), obs AS (
                SELECT user_id, obs_idx,
                       lag(value, 1) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id) AS sh
                FROM base WHERE m
            )
            SELECT b.event_id, b.user_id,
                   CASE WHEN b.m THEN o.sh END AS value_shift,
                   CASE WHEN b.m THEN b.value - o.sh END AS value_diff
            FROM base b LEFT JOIN obs o
              ON b.user_id = o.user_id AND b.obs_idx = o.obs_idx
        """,
        "observed_only_false": """
            WITH seg AS (SELECT DISTINCT c_mktsegment FROM customer),
            nat AS (SELECT DISTINCT c_nationkey FROM customer),
            agg AS (
                SELECT c_mktsegment, c_nationkey, count(*) AS n,
                       sum(c_acctbal) AS total_acctbal
                FROM customer GROUP BY 1, 2
            )
            SELECT seg.c_mktsegment, nat.c_nationkey, agg.n, agg.total_acctbal
            FROM seg CROSS JOIN nat
            LEFT JOIN agg USING (c_mktsegment, c_nationkey)
        """,
        "segment_revenue": """
            SELECT c_mktsegment,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE)
                     AS revenue,
                   count(DISTINCT o_orderkey) AS n_orders,
                   count(*) AS n_lineitems
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        # identical semantics to segment_revenue — the bucketed variant only
        # changes the physical layout, never the result
        "segment_revenue_bucketed": """
            SELECT c_mktsegment,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE)
                     AS revenue,
                   count(DISTINCT o_orderkey) AS n_orders,
                   count(*) AS n_lineitems
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "nation_revenue": """
            SELECT r_name, n_name,
                   CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(27,6))) AS DOUBLE)
                     AS revenue
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        """,
        # nearest = the union-merge construction in SQL: both directional
        # candidates via IGNORE NULLS windows, closer one wins, ties backward
        "asof_nearest": """
            WITH p AS (SELECT user_id, ts, event_id AS pid, value AS pval
                       FROM events WHERE event_type = 'purchase'),
            u AS (
                SELECT event_id, user_id, ts, 1 AS is_left,
                       CAST(NULL AS BIGINT) AS pid,
                       CAST(NULL AS DOUBLE) AS pval,
                       CAST(NULL AS TIMESTAMP) AS rts
                FROM events
                UNION ALL
                SELECT NULL, user_id, ts, 0, pid, pval, ts FROM p
            ),
            m AS (
                SELECT *,
                       last_value(pid IGNORE NULLS) OVER wb AS b_pid,
                       last_value(pval IGNORE NULLS) OVER wb AS b_pval,
                       last_value(rts IGNORE NULLS) OVER wb AS b_ts,
                       last_value(pid IGNORE NULLS) OVER wf AS f_pid,
                       last_value(pval IGNORE NULLS) OVER wf AS f_pval,
                       last_value(rts IGNORE NULLS) OVER wf AS f_ts
                FROM u
                WINDOW wb AS (PARTITION BY user_id
                              ORDER BY ts ASC, is_left ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                       wf AS (PARTITION BY user_id
                              ORDER BY ts DESC, is_left ASC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT event_id, user_id,
                   CASE WHEN b_ts IS NOT NULL
                             AND (f_ts IS NULL OR (ts - b_ts) <= (f_ts - ts))
                        THEN b_pid ELSE f_pid END AS purchase_event_id,
                   CASE WHEN b_ts IS NOT NULL
                             AND (f_ts IS NULL OR (ts - b_ts) <= (f_ts - ts))
                        THEN b_pval ELSE f_pval END AS purchase_value
            FROM m WHERE is_left = 1
        """,
        "asof_join": """
            SELECT e.event_id, e.user_id, p.purchase_event_id, p.purchase_value
            FROM events e ASOF LEFT JOIN (
                SELECT user_id, ts, event_id AS purchase_event_id,
                       value AS purchase_value
                FROM events WHERE event_type = 'purchase') p
            ON e.user_id = p.user_id AND e.ts >= p.ts
        """,
        "interval_join": """
            WITH e AS (
                SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
                FROM events
            ), flagged AS (
                SELECT event_id, user_id, ts_us,
                       CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
                                 > 1800000000 THEN 1 ELSE 0 END AS new_session
                FROM e
            ), sess_events AS (
                SELECT event_id, user_id, ts_us,
                       CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                         AS session_id
                FROM flagged
            ), sessions AS (
                SELECT user_id, session_id,
                       min(ts_us) AS s_start, max(ts_us) AS s_end
                FROM sess_events GROUP BY user_id, session_id
            )
            SELECT e.event_id, e.user_id, s.session_id
            FROM e JOIN sessions s
              ON e.user_id = s.user_id
             AND e.ts_us >= s.s_start AND e.ts_us <= s.s_end
        """,
        "apply_zscore": """
            SELECT l_orderkey, l_linenumber, l_returnflag,
                   (l_quantity - avg(l_quantity) OVER w)
                     / stddev_samp(l_quantity) OVER w AS qty_z
            FROM lineitem
            WINDOW w AS (PARTITION BY l_returnflag)
        """,
        "winnow_fingerprints": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            f AS (SELECT doc_id, {tx.sql_winnow_fingerprints('toks', 4)} AS fps FROM t)
            SELECT doc_id,
                   CAST(len(fps) AS BIGINT) AS n_fingerprints,
                   fps[1] AS min_fp,
                   fps[len(fps)] AS max_fp
            FROM f
        """,
        "sessionize": """
            WITH e AS (
                SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
                FROM events
            ), flagged AS (
                SELECT event_id, user_id, ts_us,
                       CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
                                 > 1800000000 THEN 1 ELSE 0 END AS new_session
                FROM e
            )
            SELECT event_id, user_id,
                   CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                     AS session_id
            FROM flagged
        """,
        "nanops_global": """
            SELECT sum(l_quantity) AS l_quantity_sum,
                   avg(l_quantity) AS l_quantity_mean,
                   stddev_samp(l_quantity) AS l_quantity_std,
                   count(l_quantity) AS l_quantity_count,
                   min(l_extendedprice) AS l_extendedprice_min,
                   max(l_extendedprice) AS l_extendedprice_max,
                   avg(l_discount) AS l_discount_mean,
                   var_samp(l_discount) AS l_discount_var
            FROM lineitem
        """,
        "pretty_cut_bins": """
            SELECT CASE WHEN l_quantity <= 10 THEN ' <= 10'
                        WHEN l_quantity <= 25 THEN '10 - 25'
                        WHEN l_quantity <= 40 THEN '25 - 40'
                        ELSE ' > 40' END AS qty_bin,
                   count(*) AS n, sum(l_quantity) AS sum_qty
            FROM lineitem GROUP BY 1
        """,
        "bools_to_categorical": """
            SELECT COALESCE(NULLIF(concat_ws(' & ',
                       CASE WHEN l_discount > 0.05 THEN 'A' END,
                       CASE WHEN l_tax > 0.04 THEN 'B' END), ''), 'none') AS flag_label,
                   count(*) AS size
            FROM lineitem GROUP BY 1
        """,
        "linear_combination": """
            SELECT sum(l_quantity * 2.0 + l_discount * (-1.0)) AS lincomb_sum
            FROM lineitem
        """,
        "scatter_fit": f"""
            WITH b AS (
                SELECT CAST(ntile(20) OVER (ORDER BY l_extendedprice, l_orderkey,
                                            l_linenumber) AS INTEGER) AS bin,
                       l_extendedprice, l_quantity
                FROM lineitem
            ), exact AS (
                SELECT bin, avg(l_extendedprice) AS x_mean,
                       avg(l_quantity) AS y_mean, count(*) AS n,
                       'ntile' AS method
                FROM b GROUP BY bin
            ), cl AS (
                -- Spark approxQuantile(relative_error=0) picks the element
                -- at 1-based rank ceil(q*n) (QuantileSummaries.query);
                -- quantile_disc uses a different index rule that diverges
                -- by one rank when q*n lands on an integer (double
                -- arithmetic is identical IEEE on both engines, so the
                -- ceil reproduces Spark's boundary behavior exactly)
                -- CAST q to DOUBLE: DuckDB parses 0.55 as DECIMAL, whose
                -- exact q*n misses the double-rounding boundary Spark hits
                SELECT list_transform(
                           [{', '.join(str(i / 20) for i in range(1, 20))}],
                           q -> xs[CAST(ceil(CAST(q AS DOUBLE) * n)
                                        AS BIGINT)]) AS cuts
                FROM (SELECT list(l_extendedprice ORDER BY l_extendedprice)
                             AS xs,
                             count(*) AS n
                      FROM lineitem)
            ), b2 AS (
                SELECT CAST(1 + len(list_filter(cl.cuts,
                                c -> li.l_extendedprice > c)) AS INTEGER) AS bin,
                       li.l_extendedprice, li.l_quantity
                FROM lineitem li CROSS JOIN cl
            ), approx AS (
                SELECT bin, avg(l_extendedprice) AS x_mean,
                       avg(l_quantity) AS y_mean, count(*) AS n,
                       'cutpoints' AS method
                FROM b2 GROUP BY bin
            ), fit AS (
                SELECT regr_intercept(l_extendedprice, l_quantity) AS intercept,
                       regr_slope(l_extendedprice, l_quantity) AS slope
                FROM lineitem
            )
            SELECT u.bin, u.x_mean, u.y_mean, u.n, u.method,
                   f.intercept, f.slope
            FROM (SELECT * FROM exact UNION ALL SELECT * FROM approx) u
            CROSS JOIN fit f
        """,
        "dedup_exact": """
            SELECT sha256(text) AS content_hash,
                   min(doc_id) AS keep_id, count(*) AS n_copies
            FROM documents GROUP BY 1
        """,
        "doc_token_stats": f"""
            WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
            SELECT doc_id,
                   len(toks) AS n_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                     AS n_bpe_tokens,
                   {fp} AS fingerprint
            FROM t
        """,
        "lang_id_pred": f"""
            WITH t AS (SELECT lang, {_TOKS} AS toks FROM documents),
            s AS (SELECT lang, {lang_defs} FROM t)
            SELECT lang, {lang_case} AS pred_lang, count(*) AS size
            FROM s GROUP BY lang, pred_lang
        """,
        "quality_score": f"""
            WITH t AS (
                SELECT source, text, {_TOKS} AS toks, length(text) AS n_chars
                FROM documents
            ), f AS (
                SELECT source,
                       len(toks) AS n_tokens,
                       len(list_filter(toks, t -> t IN ({stop_list})))::DOUBLE / len(toks)
                         AS stopword_ratio,
                       len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE / n_chars
                         AS punct_ratio
                FROM t
            ), q AS (
                SELECT source,
                       round(0.4 * least(n_tokens / 64.0, 1.0)
                           + 0.3 * least(stopword_ratio * 4, 1.0)
                           + 0.3 * (1.0 - least(punct_ratio * 10, 1.0)), 6) AS q
                FROM f
            )
            SELECT source, avg(q) AS avg_quality, count(*) AS n_docs
            FROM q GROUP BY source
        """,
        "trigram_jaccard_pairs": f"""
            WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            g AS (SELECT doc_id, list_distinct({trigrams}) AS grams FROM t)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   len(list_intersect(a.grams, b.grams))::DOUBLE
                     / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
                     AS jaccard
            FROM g a, g b
            WHERE a.doc_id < b.doc_id
              AND len(list_intersect(a.grams, b.grams))::DOUBLE
                    / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
                    >= 0.3
        """,
        "knn_cosine": """
            WITH e AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings
            ), n AS (
                SELECT vec_id, v,
                       sqrt(list_reduce(list_prepend(0.0,
                            list_transform(v, x -> x * x)), (a, x) -> a + x)) AS nrm
                FROM e
            ), sims AS (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       list_reduce(list_prepend(0.0,
                            list_transform(range(1, len(q.v) + 1),
                                           i -> q.v[i] * c.v[i])), (a, x) -> a + x)
                         / (q.nrm * c.nrm) AS cos_sim
                FROM n q, n c
                WHERE q.vec_id < 10 AND c.vec_id != q.vec_id
            )
            SELECT query_id, neighbor_id, cos_sim,
                   CAST(row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos_sim DESC, neighbor_id) AS INTEGER)
                     AS rank
            FROM sims
            QUALIFY rank <= 3
        """,
        "cosine_neardup": """
            WITH e AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings
            ), n AS (
                SELECT vec_id, v,
                       sqrt(list_reduce(list_prepend(0.0,
                            list_transform(v, x -> x * x)), (a, x) -> a + x)) AS nrm
                FROM e
            )
            SELECT * FROM (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       list_reduce(list_prepend(0.0,
                            list_transform(range(1, len(a.v) + 1),
                                           i -> a.v[i] * b.v[i])), (a2, x) -> a2 + x)
                         / (a.nrm * b.nrm) AS cos_sim
                FROM n a, n b
                WHERE a.vec_id < b.vec_id
            ) WHERE cos_sim >= 0.30
        """,
        "skew_topn_salted": """
            WITH t AS (
                SELECT CASE WHEN l_orderkey % 100 < 97 THEN 0
                            ELSE 1 + (l_orderkey % 97) END AS skew_key,
                       l_orderkey, l_linenumber, l_quantity, l_extendedprice
                FROM lineitem
            )
            SELECT skew_key, l_orderkey, l_linenumber, l_quantity, l_extendedprice
            FROM t
            QUALIFY row_number() OVER (
                PARTITION BY skew_key
                ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice) <= 3
        """,
        "skew_topn_uniform": """
            WITH t AS (
                SELECT l_orderkey % 97 AS skew_key,
                       l_orderkey, l_linenumber, l_quantity, l_extendedprice
                FROM lineitem
            )
            SELECT skew_key, l_orderkey, l_linenumber, l_quantity, l_extendedprice
            FROM t
            QUALIFY row_number() OVER (
                PARTITION BY skew_key
                ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice) <= 3
        """,
        "multimodal_image_meta": """
            SELECT doc_id,
                   CAST(length(text) % 640 + 1 AS INTEGER) AS width,
                   CAST((length(text) * 7) % 480 + 1 AS INTEGER) AS height,
                   CAST(3 AS INTEGER) AS n_channels,
                   list_reduce(list_prepend(0,
                        list_transform(range(1, least(length(text), 64) + 1),
                                       i -> ascii(substr(text, CAST(i AS INT), 1)))),
                        (a, x) -> a + x)::DOUBLE / least(length(text), 64) AS mean_byte
            FROM documents
            WHERE length(text) = octet_length(encode(text))
        """,
        # expected dims recomputed from the same doc_id arithmetic the
        # query's fixture generator uses; n_channels: PNG color-type 6
        # (doc_id % 3 = 0 and odd) decodes RGBA=4, everything else 3
        # doc_id%4 picks the container (0 png / 1 bmp / 2 gif / 3 jpeg);
        # channels: png color-type 6 at %8=4 -> 4, grayscale jpeg at
        # %8=3 -> 1, everything else 3
        "image_header_meta": """
            SELECT doc_id,
                   CAST(doc_id % 300 + 1 AS INTEGER) AS width,
                   CAST((doc_id * 3) % 200 + 1 AS INTEGER) AS height,
                   CAST(CASE WHEN doc_id % 12 = 6 THEN 4        -- PNG RGBA
                             WHEN doc_id % 12 = 3 THEN 1        -- JPEG gray
                             WHEN doc_id % 6 = 4
                                  AND doc_id % 18 IN (4, 16) THEN 4
                                                       -- WebP VP8X/VP8L alpha
                             ELSE 3 END AS INTEGER) AS n_channels
            FROM documents WHERE doc_id < 200
        """,
        "outlink_graph": """
            -- the four resolvable links per doc rebuilt closed-form
            -- (javascript: and #fragment hrefs must NOT appear)
            SELECT doc_id,
                   CASE g.generate_series
                        WHEN 0 THEN 'http://ext' || (doc_id % 3)
                                    || '.org/a' || doc_id
                        WHEN 1 THEN 'https://site' || (doc_id % 7)
                                    || '.example/dir' || (doc_id % 4)
                                    || '/sub/p' || doc_id || '.html'
                        WHEN 2 THEN 'https://cdn' || (doc_id % 2)
                                    || '.example/c'
                        ELSE 'https://site' || (doc_id % 7)
                             || '.example/r' || doc_id END AS link
            FROM documents, generate_series(0, 3) g
            WHERE doc_id < 400
        """,
        "bpe_roundtrip": """
            -- the losslessness contract: whatever merge table training
            -- produced at this SF, decode(encode(text)) == text
            SELECT doc_id, text AS roundtrip FROM documents
        """,
        "bpe_train_distributed": """
            -- distributed-counting trainer: merge table bit-equal to
            -- the sample trainer's (n_merge_diff 0) AND lossless
            -- roundtrip under the distributed table
            SELECT doc_id, text AS roundtrip, 0 AS n_merge_diff
            FROM documents
        """,
        "mojibake_repair": """
            -- the clean closed form every repaired (or untouched) doc
            -- must equal: the fixture corrupted docs c<3 by the REAL
            -- utf8->cp1252 path (double for every 9th) and left c=3
            -- (ASCII) and c=4 (genuine accents) raw
            SELECT doc_id,
                   'Doc ' || doc_id || ' ' ||
                   CASE doc_id % 5
                        WHEN 0 THEN 'caf' || chr(233)
                        WHEN 1 THEN 'it' || chr(8217) || 's'
                        WHEN 2 THEN chr(252) || 'ber'
                        WHEN 3 THEN 'plain'
                        ELSE chr(233) || 'tude' END AS fixed
            FROM documents WHERE doc_id < 500
        """,
        "unicode_nfc": """
            -- the SAME denormalized construction rebuilt with chr()
            -- code points, normalized by DuckDB's ICU nfc_normalize —
            -- an implementation of UAX #15 fully independent of the
            -- engine's Python-UCD path; any composition-table,
            -- canonical-ordering or Hangul-LVT bug on either side
            -- breaks the bit-for-bit agreement
            SELECT doc_id,
                   nfc_normalize('Doc ' || doc_id || ' ' ||
                     CASE doc_id % 5
                          WHEN 0 THEN 'Cafe' || chr(769)
                          WHEN 1 THEN 'A' || chr(778) || 'ngstrom'
                          WHEN 2 THEN chr(4352) || chr(4449) || chr(4520)
                          WHEN 3 THEN 'o' || chr(776) || chr(772)
                          ELSE chr(233) || 'tude' END
                     || ' end') AS nfc_text
            FROM documents WHERE doc_id < 500
        """,
        "sitemap_urls": """
            -- every sitemap entry rebuilt closed-form from the doc_id
            -- arithmetic: index docs (doc_id % 7 = 0) fan out child
            -- sitemap locs, leaves carry lastmod/changefreq/priority;
            -- priority (j % 11)/10 parses to the identical double
            SELECT doc_id, 'sitemap' AS kind,
                   'http://site' || (doc_id % 5) || '.example/sm'
                   || j.generate_series || '.xml' AS loc,
                   CAST(NULL AS VARCHAR) AS lastmod,
                   CAST(NULL AS VARCHAR) AS changefreq,
                   CAST(NULL AS DOUBLE) AS priority
            FROM documents, generate_series(0, 4) j
            WHERE doc_id < 200 AND doc_id % 7 = 0
              AND j.generate_series < 2 + doc_id % 3
            UNION ALL
            SELECT doc_id, 'url' AS kind,
                   'http://site' || (doc_id % 5) || '.example/page'
                   || doc_id || '/' || j.generate_series
                   || '?a=' || j.generate_series || '&b=' || doc_id,
                   '2026-0' || (1 + j.generate_series % 9) || '-15',
                   CASE j.generate_series % 3 WHEN 0 THEN 'daily'
                        WHEN 1 THEN 'weekly' ELSE 'monthly' END,
                   CAST(j.generate_series % 11 AS DOUBLE) / 10
            FROM documents, generate_series(0, 6) j
            WHERE doc_id < 200 AND doc_id % 7 <> 0
              AND j.generate_series < 3 + doc_id % 4
        """,
        "pdf_text_extract": """
            -- the canonical text rebuilt closed-form: same page/line
            -- arithmetic, lines joined by chr(10) in (page, line)
            -- order; n_objects = 2*n_pages + 3 (contents + page objects
            -- + font + pages + catalog), +1 for the ToUnicode CMap
            -- stream on doc_id % 4 in (0, 3) (the r12 embedded-font
            -- code-space docs)
            WITH p AS (
                SELECT doc_id, 1 + doc_id % 3 AS npg, 2 + doc_id % 2 AS nln
                FROM documents WHERE doc_id < 300
            ), lines AS (
                SELECT p.doc_id, p.npg,
                       pg.generate_series AS pg, ln.generate_series AS ln,
                       CASE WHEN ln.generate_series = 1
                            THEN 'see (ref ' || p.doc_id || ') \\ end on'
                                 || ' page ' || pg.generate_series
                            ELSE 'Doc ' || p.doc_id || ' page '
                                 || pg.generate_series || ' line '
                                 || ln.generate_series END AS txt
                FROM p, generate_series(0, 2) pg, generate_series(0, 2) ln
                WHERE pg.generate_series < p.npg
                  AND ln.generate_series < p.nln
            )
            SELECT doc_id,
                   string_agg(txt, chr(10) ORDER BY pg, ln) AS text,
                   CAST(any_value(npg) AS INTEGER) AS n_pages,
                   CAST(2 * any_value(npg) + 3
                        + CASE WHEN doc_id % 4 IN (0, 3) THEN 1 ELSE 0 END
                        AS INTEGER) AS n_objects
            FROM lines GROUP BY doc_id
        """,
        "robots_filter": """
            -- every robots verdict recomputed closed-form: domain
            -- d = doc_id % 7 and path shape pc = doc_id % 5 determine
            -- the outcome — d%3=0 disallows the /p{d}/ prefix (pc=0)
            -- but the LONGER /p{d}/ok/ Allow overrides it (pc=1);
            -- d%3=1 publishes a specialbot group (must NOT apply to
            -- the default agent) and a /qq*z$ wildcard+anchor pattern
            -- (matches pc=2, not the unanchored pc=3); d%3=2 has no
            -- robots row at all = fully allowed
            SELECT doc_id,
                   'http://site' || (doc_id % 7) || '.example'
                   || CASE doc_id % 5
                        WHEN 0 THEN '/p' || (doc_id % 7) || '/a' || doc_id
                        WHEN 1 THEN '/p' || (doc_id % 7) || '/ok/b'
                                    || doc_id
                        WHEN 2 THEN '/qq' || doc_id || 'z'
                        WHEN 3 THEN '/qq' || doc_id
                        ELSE '/plain/' || doc_id END AS url,
                   CAST(NOT ((doc_id % 7) % 3 = 0 AND doc_id % 5 = 0
                             OR (doc_id % 7) % 3 = 1 AND doc_id % 5 = 2)
                        AS BOOLEAN) AS robots_allowed
            FROM documents WHERE doc_id < 400
        """,
        "video_frame_sample": """
            -- every sampled frame's BYTES rebuilt in SQL: the fixed JPEG
            -- prelude as a hex literal, the SOF height/width big-endian
            -- at their spec positions, the ASCII tail — md5 over the
            -- reassembled blob must equal the engine's hash of the bytes
            -- it extracted from the real RIFF walk (doc_id < 120) or the
            -- real MP4 stsz/stco/stsc sample-table walk (120-239, r11).
            -- Frame payloads are 52 bytes (even, no pad); AVI movi
            -- payloads start at the writer's constant offset 232 with
            -- chunk stride 60; MP4 samples start at ftyp(24) + mdat
            -- header(8) = 32 and pack back-to-back (the 3-per-chunk stsc
            -- grouping never gaps constant-size samples), so the offset
            -- closed form is 32 + 52*idx.
            WITH p AS (
                SELECT doc_id,
                       5 + doc_id % 6 AS n_f,
                       CAST(64 + (doc_id % 8) * 16 AS INTEGER) AS w,
                       CAST(48 + (doc_id % 5) * 16 AS INTEGER) AS h
                FROM documents WHERE doc_id < 240
            ), sel AS (
                SELECT DISTINCT doc_id, n_f, w, h,
                       CAST((g.generate_series * (n_f - 1)) // 2
                            AS INTEGER) AS frame_idx
                FROM p, generate_series(0, 2) g
            )
            SELECT doc_id, frame_idx,
                   CAST(CASE WHEN doc_id < 120
                             THEN 232 + 60 * frame_idx
                             ELSE 32 + 52 * frame_idx END
                        AS BIGINT) AS byte_offset,
                   CAST(52 AS BIGINT) AS n_bytes,
                   w AS jpeg_width, h AS jpeg_height,
                   md5(upper(
                       'ffd8ffe000104a46494600010100000100010000'
                       || 'ffc0001108'
                       || lpad(to_hex(h), 4, '0') || lpad(to_hex(w), 4, '0')
                       || '03011100021100031100'
                       || hex(encode('FRAME-'
                                     || lpad(CAST(doc_id AS VARCHAR), 4, '0')
                                     || '-'
                                     || lpad(CAST(frame_idx AS VARCHAR),
                                             2, '0'))))) AS frame_sig
            FROM sel
        """,
        "audio_pcm_features": """
            -- every SAMPLE recomputed closed-form from the fixture's
            -- integer waveform arithmetic (square wave + modular ramp),
            -- then the identical float shapes as the engine: exact int64
            -- squared-sample sum -> one double divide -> sqrt; ZCR =
            -- sign-boundary crossings / (n-1). The every-11th doc below
            -- 100 is TRUNCATED (no payload) and must be ABSENT. r11 mono
            -- groups cover every decoded PCM width: 100-111 8-bit
            -- (centered), 112-124 24-bit, 125-137 32-bit int (exact
            -- HUGEINT sum -> one double cast, matching the engine's
            -- exact int64 path), 138-149 float32 with dyadic m/64-1
            -- samples (sum of 4096ths is order-independent in float64,
            -- so DuckDB's sequential sum == numpy's pairwise dot).
            WITH p AS (
                SELECT doc_id,
                       256 + (doc_id % 7) * 16 AS n,
                       CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sr,
                       8 + doc_id % 5 AS h, 1000 + doc_id AS a0,
                       3 + doc_id % 4 AS k, 500 + doc_id AS a1
                FROM documents WHERE doc_id < 100 AND doc_id % 11 <> 10
            ), s AS (
                SELECT p.doc_id, p.n, p.sr, i.generate_series AS i,
                       CASE WHEN ((i.generate_series // p.h) % 2) = 0
                            THEN p.a0 ELSE -p.a0 END AS s0,
                       ((i.generate_series * p.k) % (2 * p.a1)) - p.a1 AS s1
                FROM p, generate_series(0, 351) i
                WHERE i.generate_series < p.n
            ), l AS (
                SELECT doc_id, n, sr, i, s0, s1,
                       lag(s0) OVER w AS p0, lag(s1) OVER w AS p1
                FROM s WINDOW w AS (PARTITION BY doc_id ORDER BY i)
            ), ag AS (
                SELECT doc_id, any_value(n) AS n, any_value(sr) AS sr,
                       max(abs(s0)) AS peak0,
                       sum(CAST(s0 AS BIGINT) * s0) AS ss0,
                       sum(CASE WHEN p0 IS NOT NULL AND ((p0 < 0) <> (s0 < 0))
                                THEN 1 ELSE 0 END) AS c0,
                       max(abs(s1)) AS peak1,
                       sum(CAST(s1 AS BIGINT) * s1) AS ss1,
                       sum(CASE WHEN p1 IS NOT NULL AND ((p1 < 0) <> (s1 < 0))
                                THEN 1 ELSE 0 END) AS c1
                FROM l GROUP BY doc_id
            )
            SELECT doc_id, CAST(0 AS INTEGER) AS channel, sr AS sample_rate,
                   CAST(n AS BIGINT) AS n_frames,
                   CAST(peak0 AS DOUBLE) AS peak,
                   sqrt(CAST(ss0 AS DOUBLE) / n) AS rms,
                   CAST(c0 AS DOUBLE) / (n - 1) AS zcr
            FROM ag
            UNION ALL
            SELECT doc_id, CAST(1 AS INTEGER), sr, CAST(n AS BIGINT),
                   CAST(peak1 AS DOUBLE),
                   sqrt(CAST(ss1 AS DOUBLE) / n),
                   CAST(c1 AS DOUBLE) / (n - 1)
            FROM ag
            UNION ALL
            SELECT doc_id, CAST(0 AS INTEGER), sr, CAST(n AS BIGINT),
                   CASE WHEN is_f THEN peak_f ELSE CAST(peak_i AS DOUBLE)
                        END,
                   sqrt(CASE WHEN is_f THEN ss_f
                             ELSE CAST(ss_i AS DOUBLE) END / n),
                   CAST(cm AS DOUBLE) / (n - 1)
            FROM (
                SELECT doc_id, any_value(n) AS n, any_value(sr) AS sr,
                       any_value(is_f) AS is_f,
                       max(abs(si)) AS peak_i, sum(si * si) AS ss_i,
                       max(abs(sf)) AS peak_f, sum(sf * sf) AS ss_f,
                       sum(CASE WHEN pm IS NOT NULL AND pm <> (sm < 0)
                                THEN 1 ELSE 0 END) AS cm
                FROM (
                    SELECT doc_id, n, sr, is_f, si, sf,
                           coalesce(CAST(si AS DOUBLE), sf) AS sm,
                           lag(coalesce(CAST(si AS DOUBLE), sf) < 0)
                               OVER (PARTITION BY doc_id
                                     ORDER BY i) AS pm
                    FROM (
                        SELECT pm.doc_id, pm.n, pm.sr, pm.is_f,
                               i.generate_series AS i,
                               CASE WHEN pm.is_f THEN NULL
                                    WHEN pm.doc_id < 112 THEN
                                      CAST((i.generate_series * pm.k
                                            + pm.doc_id) % 256 - 128
                                           AS BIGINT)
                                    WHEN pm.doc_id < 125 THEN
                                      CAST((i.generate_series * pm.k * 997)
                                           % (2 * pm.a) - pm.a AS BIGINT)
                                    ELSE CAST(CASE WHEN
                                           ((i.generate_series // pm.h) % 2)
                                           = 0 THEN pm.a ELSE -pm.a END
                                           AS BIGINT) END AS si,
                               CASE WHEN pm.is_f THEN
                                      CAST((i.generate_series * pm.k) % 129
                                           AS DOUBLE) / 64 - 1
                                    ELSE NULL END AS sf
                        FROM (
                            SELECT doc_id,
                                   200 + (doc_id % 5) * 16 AS n,
                                   CAST(8000 + (doc_id % 4) * 4000
                                        AS INTEGER) AS sr,
                                   doc_id >= 138 AS is_f,
                                   CASE WHEN doc_id < 112
                                        THEN 3 + doc_id % 5
                                        ELSE 3 + doc_id % 4 END AS k,
                                   CASE WHEN doc_id < 125
                                        THEN 100000 + doc_id * 37
                                        ELSE 50000000 + doc_id END AS a,
                                   8 + doc_id % 5 AS h
                            FROM documents
                            WHERE doc_id >= 100 AND doc_id < 150
                        ) pm, generate_series(0, 263) i
                        WHERE i.generate_series < pm.n
                    )
                ) GROUP BY doc_id
            )
        """,
        "media_meta": """
            -- both container walks' closed forms joined per doc
            WITH w AS (
            SELECT doc_id,
                   CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                             WHEN 2 THEN 22050 ELSE 44100 END AS INTEGER)
                       AS sample_rate,
                   CAST(doc_id % 2 + 1 AS INTEGER) AS n_channels,
                   CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS INTEGER)
                       AS bits_per_sample,
                   CAST(CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                             WHEN 2 THEN 22050 ELSE 44100 END
                        * (doc_id % 5) AS BIGINT) AS n_frames,
                   CAST((doc_id % 5) * 1000.0 AS DOUBLE) AS duration_ms
            FROM documents WHERE doc_id < 200
        ), m AS (
            SELECT doc_id,
                   CAST((doc_id % 8 + 1) * 160 AS INTEGER) AS width,
                   CAST((doc_id % 8 + 1) * 90 AS INTEGER) AS height,
                   CAST(CASE WHEN doc_id % 2 = 0 THEN 600 ELSE 90000 END
                        AS BIGINT) AS timescale,
                   CAST((doc_id % 6) * 1000.0 AS DOUBLE) AS duration_ms
            FROM documents WHERE doc_id < 200
        )
            SELECT w.doc_id, w.sample_rate, w.n_channels,
                   w.bits_per_sample, w.n_frames,
                   w.duration_ms AS wav_duration_ms,
                   m.width, m.height, m.timescale,
                   m.duration_ms AS mp4_duration_ms
            FROM w JOIN m ON m.doc_id = w.doc_id
        """,
        "warc_ingest": """
            SELECT doc_id,
                   CAST(0 AS INTEGER) AS record_idx,
                   'response' AS warc_type,
                   '<urn:uuid:' || doc_id || '>' AS record_id,
                   'http://site' || (doc_id % 7) || '.example/doc/' || doc_id
                       AS target_uri,
                   '2024-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                       || 'T00:00:00Z' AS warc_date,
                   CAST(CASE WHEN doc_id % 9 = 0 THEN 404 ELSE 200 END
                        AS INTEGER) AS http_status,
                   CASE WHEN doc_id % 5 = 0 THEN 'text/plain'
                        ELSE 'text/html' END AS content_type,
                   CAST(length(CASE WHEN doc_id % 5 = 0
                                    THEN 'plain ' || doc_id
                                    ELSE '<html><body><h1>Doc ' || doc_id
                                         || '</h1><p>token' || doc_id
                                         || ' &amp; tail</p></body></html>'
                               END) AS BIGINT) AS n_payload_bytes,
                   CASE WHEN doc_id % 5 = 0 THEN 'plain ' || doc_id
                        ELSE 'Doc ' || doc_id || ' token' || doc_id
                             || ' & tail' END AS text
            FROM documents WHERE doc_id < 150
        """,
        "url_normalize": """
            -- expected outputs CONSTRUCTED from the doc_id arithmetic;
            -- domain encodes the full-PSL answers: exact/private rules
            -- keep suffix+1 label (www stripped); *.ck and *.nagoya.jp
            -- make [www.]siteN.<sfx> its own public suffix (host passes
            -- through whole); the !city.kawasaki.jp exception collapses
            -- every host under it to city.kawasaki.jp; the 5-label
            -- s3.dualstack rule keeps 6 labels
            WITH f AS (
                SELECT doc_id,
                       CASE doc_id % 12 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                            WHEN 2 THEN 'co.uk' WHEN 3 THEN 'io'
                            WHEN 4 THEN 'com.au' WHEN 5 THEN 'gob.mx'
                            WHEN 6 THEN 'github.io' WHEN 7 THEN 'ck'
                            WHEN 8 THEN 'nagoya.jp'
                            WHEN 9 THEN 'city.kawasaki.jp'
                            WHEN 10 THEN
                              's3.dualstack.eu-central-1.amazonaws.com'
                            ELSE 'co.bw' END AS sfx,
                       CASE WHEN doc_id % 4 = 0 THEN 'www.' ELSE '' END
                           AS www
                FROM documents WHERE doc_id < 400
            )
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END
                   || '://' || www || 'Site' || (doc_id % 23) || '.' || sfx
                   || CASE WHEN doc_id % 6 = 0 THEN
                            CASE WHEN doc_id % 2 = 0 THEN ':80'
                                 ELSE ':443' END
                           WHEN doc_id % 6 = 3 THEN ':8080' ELSE '' END
                   || CASE WHEN doc_id % 3 = 0 THEN '/'
                           ELSE '/p/' || doc_id END
                   || CASE WHEN doc_id % 5 = 0 THEN '?q=' || doc_id
                           ELSE '' END
                   || CASE WHEN doc_id % 3 = 1 THEN '#sec' ELSE '' END
                       AS raw_url,
                   CASE WHEN doc_id % 2 = 0 THEN 'http' ELSE 'https' END
                   || '://'
                   || lower(www || 'Site' || (doc_id % 23) || '.' || sfx)
                   || CASE WHEN doc_id % 6 = 3 THEN ':8080' ELSE '' END
                   || CASE WHEN doc_id % 3 = 0 THEN ''
                           ELSE '/p/' || doc_id END
                   || CASE WHEN doc_id % 5 = 0 THEN '?q=' || doc_id
                           ELSE '' END AS norm_url,
                   lower(www || 'Site' || (doc_id % 23) || '.' || sfx)
                       AS host,
                   CASE WHEN doc_id % 12 IN (7, 8)
                        THEN lower(www || 'Site' || (doc_id % 23)
                                   || '.' || sfx)
                        WHEN doc_id % 12 = 9 THEN 'city.kawasaki.jp'
                        ELSE 'site' || (doc_id % 23) || '.' || sfx
                   END AS domain
            FROM f
        """,
        "crawl_domain_stats": """
            WITH r AS (
                SELECT doc_id,
                       'site' || (doc_id % 7) || '.example' AS domain,
                       CASE WHEN doc_id % 9 = 0 THEN 404 ELSE 200 END AS st,
                       length(CASE WHEN doc_id % 5 = 0
                                   THEN 'plain ' || doc_id
                                   ELSE '<html><body><h1>Doc ' || doc_id
                                        || '</h1><p>token' || doc_id
                                        || ' &amp; tail</p></body></html>'
                              END) AS nb
                FROM documents WHERE doc_id < 150
            )
            SELECT domain,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN st = 200 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_ok,
                   CAST(sum(nb) AS BIGINT) AS total_bytes
            FROM r GROUP BY domain
        """,
        # minhash_neardup, simhash_candidates, hyperplane_lsh_buckets: xxhash64-
        # seeded — not reproducible in ANSI SQL; driver records rows-only
        # checks. The *_poly variants below run the SAME pipelines on the
        # ANSI poly hash and are value-checked end-to-end.
        # streaming_sessions: the ENGINE side replays events through the
        # Structured Streaming session_window operator; the oracle is the
        # batch gap-session formulation (break when the in-user time delta
        # >= the 30-min gap; session end = last event + gap). Session totals
        # are tiny per-session FP sums — far inside the round-6 grain.
        # streaming_running: one availableNow batch delivers each key's rows
        # sorted by event_id -> identical addition order to the batch window
        # cumsum on both engines.
        "streaming_running": """
            SELECT user_id, event_id, value,
                   sum(value) OVER (PARTITION BY user_id ORDER BY event_id)
                       AS running_total,
                   CAST(row_number() OVER (PARTITION BY user_id
                                           ORDER BY event_id) AS BIGINT)
                       AS running_count
            FROM events
        """,
        "group_rank": """
            SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
                   CAST(rank() OVER w AS INTEGER) AS qty_rank,
                   CAST(dense_rank() OVER w AS INTEGER) AS qty_dense_rank,
                   percent_rank() OVER w AS qty_percent_rank
            FROM lineitem
            WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity ASC)
        """,
        # lsh_recall: the exact pair count is SQL-computable; the hit side
        # is xxhash-seeded, so the oracle pins (n_exact, recall >= bar).
        "lsh_recall": """
            WITH e AS (
                SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                FROM embeddings
            ), n AS (
                SELECT vec_id, v,
                       sqrt(list_reduce(list_prepend(0.0,
                            list_transform(v, x -> x * x)), (a, x) -> a + x)) AS nrm
                FROM e
            ), p AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                       list_reduce(list_prepend(0.0,
                            list_transform(range(1, len(a.v) + 1),
                                           i -> a.v[i] * b.v[i])), (a2, x) -> a2 + x)
                         / (a.nrm * b.nrm) AS cos_sim
                FROM n a, n b
                WHERE a.vec_id < b.vec_id
            )
            SELECT CAST(count(*) AS BIGINT) AS n_exact, TRUE AS recall_ok
            FROM p WHERE cos_sim >= 0.30
        """,
        "weighted_sample": f"""
            SELECT doc_id, source, n_chars FROM (
                SELECT doc_id, source, n_chars,
                       {sampling.sql_weighted_sample_per_group(
                           "source", "n_chars", 10, "doc_id", seed=5)} AS rn
                FROM documents WHERE CAST(n_chars AS DOUBLE) > 0
            ) WHERE rn <= 10
        """,
        "rolling_time": """
            SELECT event_id, user_id,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                   value,
                   sum(value) OVER w AS value_tsum,
                   avg(value) OVER w AS value_tmean,
                   CASE WHEN count(value) OVER w >= 1
                        THEN CAST(count(value) OVER w AS BIGINT)
                   END AS value_tcount
            FROM events
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
                         RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)
        """,
        # curation_pipeline: composed disposition — canonical, quality,
        # repetition, lang-ID, split; same tie/threshold rules as the
        # individual operator oracles.
        "curation_pipeline": f"""
            WITH lx AS (
                SELECT doc_id,
                       list_filter(string_split(text, chr(10)), l -> l <> '') AS ls
                FROM documents
            ), lstats AS (
                SELECT doc_id,
                       CASE WHEN len(ls) > 0
                            THEN 1.0 - len(list_distinct(ls))::DOUBLE / len(ls)
                            ELSE 0.0 END AS dup_line_frac,
                       CASE WHEN list_sum(list_transform(ls, l -> CAST(length(l) AS BIGINT))) > 0
                            THEN 1.0 - list_sum(list_transform(list_distinct(ls), l -> CAST(length(l) AS BIGINT)))::DOUBLE
                                 / list_sum(list_transform(ls, l -> CAST(length(l) AS BIGINT)))
                            ELSE 0.0 END AS dup_line_char_frac
                FROM lx
            ), tk AS (
                SELECT doc_id, text, length(text) AS n_chars, {_TOKS} AS toks
                FROM documents
            ), grams AS (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i+1])) AS gram
                FROM tk
            ), cnts AS (
                SELECT doc_id, gram, count(*) AS cnt
                FROM grams GROUP BY doc_id, gram
            ), top AS (
                SELECT doc_id, cnt FROM (
                    SELECT doc_id, cnt,
                           row_number() OVER (PARTITION BY doc_id
                                              ORDER BY cnt DESC, gram DESC) AS rn
                    FROM cnts) WHERE rn = 1
            ), qual AS (
                SELECT doc_id,
                       round(0.4 * least(len(toks) / 64.0, 1.0)
                           + 0.3 * least(len(list_filter(toks, t -> t IN ({stop_list})))::DOUBLE / len(toks) * 4, 1.0)
                           + 0.3 * (1.0 - least(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE / n_chars * 10, 1.0)), 6) AS q
                FROM tk
            ), lp AS (
                SELECT doc_id, {lang_defs} FROM tk
            ), kp AS (
                SELECT text, min(doc_id) AS keep_id FROM documents GROUP BY text
            ), fl AS (
                SELECT d.doc_id,
                       (d.doc_id = kp.keep_id) AS is_canonical,
                       (qual.q >= 0.5) AS passes_quality,
                       (lstats.dup_line_frac <= 0.30
                        AND lstats.dup_line_char_frac <= 0.20
                        AND COALESCE(top.cnt * 2.0 / len(tk.toks), 0.0) <= 0.20)
                           AS passes_repetition,
                       {lang_case} AS pred_lang,
                       {split_case_d} AS split
                FROM documents d
                JOIN kp ON kp.text = d.text
                JOIN qual ON qual.doc_id = d.doc_id
                JOIN lstats ON lstats.doc_id = d.doc_id
                JOIN tk ON tk.doc_id = d.doc_id
                JOIN lp ON lp.doc_id = d.doc_id
                LEFT JOIN top ON top.doc_id = d.doc_id
            )
            SELECT doc_id, is_canonical, passes_quality, passes_repetition,
                   pred_lang, split,
                   (is_canonical AND passes_quality AND passes_repetition)
                       AS keep
            FROM fl
        """,
        # chunk_dedup: non-overlapping 200-char chunk grid; dup = exact text
        # occurring >1 time corpus-wide; empty chunks never count as dups.
        "chunk_dedup": """
            WITH shaped AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 7 = 0 THEN
                           repeat('this site uses cookies accept our terms '
                                  || 'and privacy policy subscribe to the '
                                  || 'newsletter for updates ', 4) || text
                       ELSE text END AS text
                FROM documents
            ),
            d AS (SELECT doc_id, text, length(text) AS ln FROM shaped),
            n AS (SELECT doc_id, text,
                         1 + greatest(0, CAST(ceil((ln - 200) / 200.0)
                                              AS BIGINT)) AS nc
                  FROM d),
            e AS (SELECT doc_id, text, unnest(range(0, nc)) AS i FROM n),
            ch AS (SELECT doc_id,
                          substr(text, CAST(i * 200 + 1 AS INTEGER), 200)
                              AS chunk_text
                   FROM e),
            cnt AS (SELECT chunk_text, count(*) AS n FROM ch
                    WHERE length(chunk_text) > 0 GROUP BY chunk_text)
            SELECT ch.doc_id,
                   CAST(count(*) AS BIGINT) AS n_chunks,
                   CAST(sum(CASE WHEN length(ch.chunk_text) > 0
                                  AND cnt.n > 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_dup_chunks,
                   sum(CASE WHEN length(ch.chunk_text) > 0 AND cnt.n > 1
                            THEN 1 ELSE 0 END)::DOUBLE / count(*)
                       AS dup_chunk_frac
            FROM ch LEFT JOIN cnt ON ch.chunk_text = cnt.chunk_text
            GROUP BY ch.doc_id
        """,
        # doc_chunks: sliding-window chunking, stride 150 = 200 - 50.
        "doc_chunks": """
            WITH d AS (SELECT doc_id, text, length(text) AS ln FROM documents),
            n AS (
                SELECT doc_id, text,
                       1 + greatest(0, CAST(ceil((ln - 200) / 150.0) AS BIGINT))
                           AS nc
                FROM d
            ),
            e AS (SELECT doc_id, text, unnest(range(0, nc)) AS i FROM n)
            SELECT doc_id,
                   CAST(i AS INTEGER) AS chunk_idx,
                   i * 150 AS chunk_start,
                   substr(text, CAST(i * 150 + 1 AS INTEGER), 200) AS chunk_text,
                   CAST(length(substr(text, CAST(i * 150 + 1 AS INTEGER), 200))
                        AS INTEGER) AS chunk_len
            FROM e
        """,
        # embedding_quantize: same explicit left-fold accumulation order as
        # the engine (list_reduce over a prepended init) -> bit-identical.
        "embedding_quantize": """
            WITH m AS (
                SELECT vec_id, embedding AS v, len(embedding) AS dim,
                       list_reduce(list_prepend(0.0,
                           list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))),
                           (a, x) -> greatest(a, x)) AS maxabs
                FROM embeddings
            ),
            q AS (SELECT *, maxabs / 127.0 AS scale FROM m)
            SELECT vec_id, CAST(dim AS INTEGER) AS dim,
                   CASE WHEN maxabs > 0 THEN maxabs END AS maxabs,
                   CASE WHEN maxabs > 0 THEN scale END AS scale,
                   CASE WHEN maxabs > 0 THEN
                       list_reduce(list_prepend(CAST(0 AS BIGINT),
                           list_transform(v, x -> CAST(floor(
                               CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT))),
                           (a, x) -> a + x)
                   END AS q_sum,
                   CASE WHEN maxabs > 0 THEN
                       list_reduce(list_prepend(0.0,
                           list_transform(v, x -> pow(
                               CAST(floor(CAST(x AS DOUBLE) / scale + 0.5)
                                    AS BIGINT) * scale - CAST(x AS DOUBLE),
                               2))),
                           (a, x) -> a + x) / dim
                   END AS mse
            FROM q
        """,
        "unigram_ppl": f"""
            WITH tk AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
            ex AS (SELECT doc_id, unnest(toks) AS term FROM tk),
            c AS (SELECT term, count(*) AS cnt FROM ex GROUP BY term),
            tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c),
            pd AS (
                SELECT doc_id, count(*) AS n_tokens,
                       avg(ln(CAST(cnt AS DOUBLE))) AS mln
                FROM ex JOIN c USING (term) GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(COALESCE(pd.n_tokens, 0) AS BIGINT) AS n_tokens,
                   CASE WHEN pd.n_tokens > 0 THEN ln(total) - mln END AS xent,
                   CASE WHEN pd.n_tokens > 0 THEN exp(ln(total) - mln) END AS ppl
            FROM documents d
            LEFT JOIN pd ON d.doc_id = pd.doc_id
            CROSS JOIN tot
        """,
        # compound (r10 consolidation): the recompute / stored-index /
        # bucketed-index forms are pure precomputation of the same result,
        # so the oracle replays the one SQL twin once per tag
        "incremental_dedup": f"""
            WITH one AS ({_sql_incremental_dedup()})
            SELECT *, 'recompute' AS form FROM one
            UNION ALL SELECT *, 'indexed' AS form FROM one
            UNION ALL SELECT *, 'bucketed' AS form FROM one
        """,
        # bloom_dedup: the Bloom pre-filter only removes definitive
        # non-members and survivors are exactly verified, so the oracle is
        # the PLAIN exact cross-corpus text join — no bloom math in SQL.
        "bloom_dedup": """
            WITH h AS (SELECT doc_id, substr(text, 1, 32) AS head
                       FROM documents)
            SELECT n.doc_id AS doc_id, min(r.doc_id) AS ref_id
            FROM (SELECT * FROM h WHERE doc_id % 5 = 0) n
            JOIN (SELECT * FROM h WHERE doc_id % 5 <> 0) r
              ON n.head = r.head
            GROUP BY n.doc_id
        """,
        "duplicated_spans": _sql_duplicated_spans(),
        "span_excision": _sql_span_excision(),
        # frame_sample: byte-level hex slicing on both sides (no char/byte
        # ambiguity), offsets floor(i*span/3.0) identically.
        "frame_sample": """
            WITH d AS (SELECT doc_id, encode(text) AS blob FROM documents),
            s AS (SELECT doc_id, blob,
                         greatest(octet_length(blob) - 8, 0) AS span
                  FROM d),
            e AS (SELECT doc_id, blob, span, unnest(range(0, 4)) AS i FROM s),
            o AS (SELECT doc_id, blob, CAST(i AS INTEGER) AS frame_idx,
                         CAST(floor(i * span / 3.0) AS BIGINT) AS byte_offset
                  FROM e)
            SELECT doc_id, frame_idx, byte_offset,
                   substr(upper(hex(blob)),
                          CAST(byte_offset * 2 + 1 AS INTEGER), 16) AS frame_sig
            FROM o
        """,
        "source_health": f"""
            WITH t AS (
                SELECT source, text, {_TOKS} AS toks, length(text) AS n_chars
                FROM documents
            ), f AS (
                SELECT source, text, n_chars,
                       len(toks) AS n_tokens,
                       len(list_filter(toks, t -> t IN ({stop_list})))::DOUBLE
                           / len(toks) AS stopword_ratio,
                       len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE
                           / n_chars AS punct_ratio
                FROM t
            ), q AS (
                SELECT source, text, n_chars,
                       round(0.4 * least(n_tokens / 64.0, 1.0)
                           + 0.3 * least(stopword_ratio * 4, 1.0)
                           + 0.3 * (1.0 - least(punct_ratio * 10, 1.0)), 6) AS q
                FROM f
            ), l1 AS (
                SELECT source, text, count(*) AS n,
                       sum(n_chars) AS sc, sum(q) AS sq
                FROM q GROUP BY source, text
            )
            SELECT source,
                   CAST(sum(n) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_distinct,
                   1.0 - count(*) / CAST(sum(n) AS DOUBLE) AS dup_frac,
                   sum(sc) / CAST(sum(n) AS DOUBLE) AS avg_chars,
                   sum(sq) / CAST(sum(n) AS DOUBLE) AS avg_quality
            FROM l1 GROUP BY source
        """,
        # streaming_tumbling: complete-mode replay of the watermarked
        # tumbling-window aggregation == batch hour-bucket aggregation.
        "streaming_tumbling": """
            SELECT event_type,
                   epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP)))
                       AS window_start_us,
                   CAST(count(*) AS BIGINT) AS n_events,
                   avg(value) AS avg_value
            FROM events
            GROUP BY event_type, date_trunc('hour', CAST(ts AS TIMESTAMP))
        """,
        # streaming_sliding: every event lands in the two hourly-sliding
        # 2-hour windows starting at trunc_hour(ts) and trunc_hour(ts)-1h.
        "streaming_sliding": """
            WITH e AS (
                SELECT event_type, value,
                       date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h
                FROM events
            ), x AS (
                SELECT event_type, value,
                       unnest([h, h - INTERVAL 1 HOUR]) AS window_start
                FROM e
            )
            SELECT event_type,
                   epoch_us(window_start) AS window_start_us,
                   CAST(count(*) AS BIGINT) AS n_events,
                   avg(value) AS avg_value
            FROM x GROUP BY event_type, window_start
        """,
        # streaming_dedup: watermark horizon covers the whole replay, so
        # dropDuplicatesWithinWatermark == global DISTINCT on the identity.
        "streaming_dedup": """
            SELECT DISTINCT user_id, event_type FROM events
        """,
        "streaming_sessions": """
            WITH e AS (
                SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, value
                FROM events
            ), f AS (
                SELECT *, CASE WHEN ts_us - lag(ts_us) OVER
                                    (PARTITION BY user_id ORDER BY ts_us)
                               >= 1800000000 THEN 1 ELSE 0 END AS brk
                FROM e
            ), s AS (
                SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                FROM f
            )
            SELECT user_id,
                   min(ts_us) AS start_us,
                   max(ts_us) + 1800000000 AS end_us,
                   CAST(count(*) AS BIGINT) AS n_events,
                   sum(value) AS total_value
            FROM s GROUP BY user_id, sid
        """,
        "nanops_rowwise": """
            WITH t AS (
                SELECT l_orderkey, l_linenumber,
                       CASE WHEN l_linenumber % 3 <> 0 THEN l_quantity END AS a,
                       CASE WHEN l_partkey % 5 <> 0 THEN l_discount END AS b,
                       l_tax AS c
                FROM lineitem
            ), u AS (
                SELECT *,
                       CAST(a IS NOT NULL AS BIGINT)
                       + CAST(b IS NOT NULL AS BIGINT)
                       + CAST(c IS NOT NULL AS BIGINT) AS n,
                       COALESCE(a, 0) + COALESCE(b, 0) + COALESCE(c, 0) AS s,
                       COALESCE(a*a, 0) + COALESCE(b*b, 0) + COALESCE(c*c, 0) AS ssq
                FROM t
            )
            SELECT l_orderkey, l_linenumber,
                   s AS row_sum,
                   CASE WHEN n > 0 THEN s / n END AS row_mean,
                   least(a, b, c) AS row_min,
                   greatest(a, b, c) AS row_max,
                   n AS row_count,
                   CASE WHEN n > 1 THEN (ssq - s*s/n) / (n - 1) END AS row_var,
                   CASE WHEN CAST(a IS NOT NULL AS BIGINT)
                             + CAST(b IS NOT NULL AS BIGINT) >= 2
                        THEN COALESCE(a, 0) + COALESCE(b, 0) END AS sum_mc2
            FROM u
        """,
        # ann_recall: the ENGINE computes ivf-vs-exact recall@10; the oracle
        # pins the assertion itself — every probe query must clear the 0.5
        # recall bar (and n_exact must be a full k=10). A broken index
        # (recall ~ k/corpus ≈ 0.02) hash-mismatches immediately, which is
        # what upgrades ivf_knn's rows-only row to a value-checked metric.
        "ann_recall": """
            SELECT vec_id AS query_id,
                   CAST(10 AS BIGINT) AS n_exact,
                   TRUE AS recall_ok
            FROM embeddings WHERE vec_id < 10
        """,
        "link_graph_rank": _sql_pagerank_unrolled(n_iters=3),
        "personalized_pagerank": _sql_ppr_unrolled(n_iters=3),
        "weighted_pagerank": _sql_wpr_unrolled(n_iters=3),
        "fuzzy_dedup": """
            -- closed-form: members 0/1/2 of each group collapse to the
            -- min id (member 0), member 3 is a singleton; the triple
            -- encoding keeps inter-cluster distance >= 2 (brute-force
            -- verified at design time over all 79,800 pairs)
            SELECT doc_id AS id,
                   (doc_id % 4 = 0 OR doc_id % 4 = 3) AS keep
            FROM documents WHERE doc_id < 400
        """,
        "rolling_corr_cov": _SQL_ROLLING_CORR_COV,
        # the scale twin shares the oracle bit-exactly (prefix
        # differences of exact sums == direct frame sums):
        "group_rolling_corr_scale": _SQL_ROLLING_CORR_COV,
        "dedup_keep_best": """
            -- closed-form best-member selection over the fuzzy_dedup
            -- cluster structure: within each triple (members 0/1/2 of
            -- group g = doc_id//4) keep the argmax of q = (doc_id*7)%13
            -- (all distinct by modular arithmetic — 7·Δ mod 13 != 0 for
            -- Δ in {1,2}); singletons (member 3) keep themselves
            WITH base AS (
                SELECT doc_id, (doc_id * 7) % 13 AS q,
                       CASE WHEN doc_id % 4 = 3 THEN doc_id
                            ELSE doc_id // 4 * 4 END AS ck
                FROM documents WHERE doc_id < 400
            )
            SELECT doc_id AS id,
                   row_number() OVER (PARTITION BY ck
                                      ORDER BY q DESC, doc_id ASC) = 1
                     AS keep
            FROM base
        """,
        "rolling_quantile": """
            -- dyadic values => linear interpolation exact in both
            -- engines (no rounding shipped); NULLs occupy window rows
            -- but are skipped by the stat and min_periods
            WITH base AS (
                SELECT event_id, event_type,
                       CASE WHEN event_id % 7 >= 2
                            THEN floor(value * 64) / 64 END AS v
                FROM events
            )
            SELECT event_id, event_type, v,
                   CASE WHEN count(v) OVER w >= 5
                        THEN quantile_cont(v, 0.5) OVER w END AS rmed,
                   CASE WHEN count(v) OVER w >= 5
                        THEN quantile_cont(v, 0.25) OVER w END AS rq25
            FROM base
            WINDOW w AS (PARTITION BY event_type ORDER BY event_id
                         ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
        """,
        "fuzzy_join": """
            -- brute-force oracle: the fixture is 300x600 strings, so the
            -- cross join + levenshtein is cheap for DuckDB while the
            -- engine must reproduce EXACT ed<=1 semantics through its
            -- deletion-neighborhood blocking
            WITH l AS (
                SELECT doc_id AS id, 'k' || CAST(doc_id AS VARCHAR) AS name
                FROM documents WHERE doc_id < 300
            ), r AS (
                SELECT doc_id AS id,
                       CASE doc_id % 3
                         WHEN 0 THEN 'k' || CAST(doc_id AS VARCHAR)
                         WHEN 1 THEN 'x' || CAST(doc_id AS VARCHAR)
                         ELSE 'k' || CAST(doc_id AS VARCHAR) || 'z'
                       END AS name
                FROM documents WHERE doc_id < 300
                UNION ALL
                SELECT doc_id + 1000, 'zz' || CAST(doc_id AS VARCHAR)
                FROM documents WHERE doc_id < 300
            )
            SELECT l.id AS left_id, r.id AS right_id,
                   l.name AS left_key, r.name AS right_key,
                   CAST(levenshtein(l.name, r.name) AS BIGINT)
                     AS edit_distance
            FROM l CROSS JOIN r
            WHERE levenshtein(l.name, r.name) <= 1
        """,
        "fuzzy_join_k2": """
            -- brute-force ed<=2 oracle over the 300x300 fixture: the
            -- engine must reproduce EXACT semantics through two-level
            -- deletion-neighborhood blocking
            WITH l AS (
                SELECT doc_id AS id, 'k' || CAST(doc_id AS VARCHAR) AS name
                FROM documents WHERE doc_id < 300
            ), r AS (
                SELECT doc_id AS id,
                       CASE doc_id % 4
                         WHEN 0 THEN 'k' || CAST(doc_id AS VARCHAR)
                         WHEN 1 THEN 'x' || CAST(doc_id AS VARCHAR)
                         WHEN 2 THEN 'x' || CAST(doc_id AS VARCHAR) || 'z'
                         ELSE 'zz' || CAST(doc_id AS VARCHAR) || 'zz'
                       END AS name
                FROM documents WHERE doc_id < 300
            )
            SELECT l.id AS left_id, r.id AS right_id,
                   l.name AS left_key, r.name AS right_key,
                   CAST(levenshtein(l.name, r.name) AS BIGINT)
                     AS edit_distance
            FROM l CROSS JOIN r
            WHERE levenshtein(l.name, r.name) <= 2
        """,
        "anchor_text_graph": """
            -- link + anchor strings rebuilt from the same doc_id
            -- arithmetic (markup stripped, whitespace collapsed, the
            -- javascript: anchor absent), aggregated per target
            WITH l AS (
                SELECT doc_id,
                       'http://t' || (doc_id % 5) || '.org/page' AS link,
                       'desc ' || (doc_id % 7) || ' term' AS anchor
                FROM documents WHERE doc_id < 400
                UNION ALL
                SELECT doc_id,
                       'http://site' || (doc_id % 7) || '.example/local'
                           || (doc_id % 3),
                       'alt ' || (doc_id % 4) || ' x'
                FROM documents WHERE doc_id < 400
            ), la AS (SELECT DISTINCT link, anchor FROM l),
            ag AS (
                SELECT link, string_agg(anchor, '|' ORDER BY anchor)
                       AS anchors
                FROM la GROUP BY link)
            SELECT l.link, COUNT(*) AS n_refs,
                   COUNT(DISTINCT doc_id) AS n_docs,
                   any_value(ag.anchors) AS anchors
            FROM l JOIN ag ON ag.link = l.link
            GROUP BY l.link
        """,
        "exact_substring_spans": """
            -- every planted span rebuilt closed-form: docs (2i, 2i+1)
            -- share m = 12 + i%7 tokens planted after 3 + doc_id%5
            -- unique-filler tokens; nothing else repeats cross-doc
            SELECT doc_id,
                   CAST(3 + doc_id % 5 AS BIGINT) AS span_start,
                   CAST(3 + doc_id % 5 + 12 + (doc_id // 2) % 7
                        AS BIGINT) AS span_end
            FROM documents WHERE doc_id < 400
        """,
        # streaming replay must equal the same closed form:
        "streaming_decontaminate": _SQL_DECONTAMINATE,
        "decontaminate": _SQL_DECONTAMINATE,
        "epoch_mixture": f"""
            -- same recipe VALUES, same affine uniform, same
            -- floor/fraction split: epoch < floor(e) keeps the full
            -- copies, the last copy keeps iff u < e - floor(e). The
            -- copy fan-out is a static series join bounded by the
            -- recipe's max ceil(e) (no unnest — DuckDB 1.x hits an
            -- internal binder error on unnest(range) inside this CTE
            -- chain).
            WITH e(src, e) AS (VALUES {", ".join(
                f"('{k}', {v!r})" for k, v in _EPOCH_RECIPE.items())}),
            s(epoch) AS (VALUES {", ".join(
                f"({i})" for i in range(int(__import__('math').ceil(
                    max(_EPOCH_RECIPE.values())))))}),
            x AS (
                SELECT d.doc_id, d.source, e.e,
                       CAST(s.epoch AS BIGINT) AS epoch
                FROM documents d
                JOIN e ON d.source = e.src
                JOIN s ON s.epoch < ceil(e.e)
                WHERE e.e > 0
            )
            SELECT doc_id, source, epoch
            FROM x
            WHERE epoch < floor(e)
               OR {sampling.sql_affine_uniform("doc_id", seed=5)}
                  < e - floor(e)
        """,
        "epoch_plan": f"""
            WITH t(source, target_frac) AS (VALUES {", ".join(
                f"('{k}', {v!r})" for k, v in _EPOCH_TARGET.items())}),
            c AS (
                SELECT source, CAST(sum(n_chars) AS BIGINT) AS n_tokens
                FROM documents GROUP BY source
            ), tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS T FROM c)
            SELECT c.source, c.n_tokens,
                   CAST(c.n_tokens AS DOUBLE) / tot.T AS natural_frac,
                   coalesce(t.target_frac, 0.0) AS target_frac,
                   coalesce(t.target_frac, 0.0) * 10000000.0 / c.n_tokens
                       AS epochs
            FROM c LEFT JOIN t USING (source) CROSS JOIN tot
        """,
        "temperature_mixture_tokens": f"""
            WITH {sampling.sql_temperature_mixture_probs(
                "source", "documents", alpha=0.3, budget_frac=0.4,
                weight_expr="n_chars")},
            kept AS (
                SELECT d.doc_id, d.source, d.n_chars
                FROM documents d JOIN p USING (source)
                WHERE {sampling.sql_affine_uniform("d.doc_id", seed=17)}
                      < p.p
            )
            SELECT source, count(*) AS n_kept,
                   CAST(sum(n_chars) AS BIGINT) AS kept_tokens,
                   CAST(sum(doc_id) AS BIGINT) AS id_checksum
            FROM kept GROUP BY source
        """,
        "contamination_report": """
            -- closed form: each doc's only ref overlap is its class
            -- block -> exactly one span, in the suite its class
            -- belongs to, of the block's token length
            SELECT doc_id,
                   CASE WHEN doc_id % 10 < 5 THEN 'sa' ELSE 'sb' END
                       AS suite,
                   CAST(1 AS BIGINT) AS n_spans,
                   CAST(8 + (doc_id % 10) % 5 AS BIGINT)
                       AS contaminated_tokens
            FROM documents WHERE doc_id < 400
        """,
        "decontaminate_drop": """
            -- closed-form per-doc accounting on the class-block
            -- fixture: contaminated tokens = the whole block, total =
            -- filler + block + trailer; survivors have fraction < 0.5.
            -- ONE IEEE division of identical longs in both engines.
            WITH t AS (
                SELECT doc_id,
                       CAST(3 + doc_id % 5 AS BIGINT)
                         + CAST(8 + (doc_id % 10) % 5 AS BIGINT)
                         + CAST(4 + doc_id % 3 AS BIGINT) AS n_tokens,
                       CAST(8 + (doc_id % 10) % 5 AS BIGINT)
                           AS contaminated_tokens
                FROM documents WHERE doc_id < 400
            )
            SELECT doc_id, n_tokens, contaminated_tokens,
                   CAST(contaminated_tokens AS DOUBLE) / n_tokens
                       AS contamination
            FROM t
            WHERE CAST(contaminated_tokens AS DOUBLE) / n_tokens < 0.5
        """,
        "ess_excision": """
            -- composed ESS -> excision, closed-form: the planted run is
            -- each doc's ONLY cross-doc content, so clean_text is the
            -- unique filler rebuilt verbatim and n_removed the planted
            -- run length
            SELECT doc_id,
                   array_to_string(
                     list_transform(range(0, CAST(3 + doc_id % 5 AS BIGINT)),
                       j -> 'f' || doc_id || 'x' || j)
                     || list_transform(range(0, CAST(4 + doc_id % 3 AS BIGINT)),
                       j -> 'g' || doc_id || 'x' || j),
                     ' ') AS clean_text,
                   CAST(12 + (doc_id // 2) % 7 AS BIGINT) AS n_removed
            FROM documents WHERE doc_id < 400
        """,
        "minhash_gate": (
            "SELECT p.*, TRUE AS seeded_recall_ok, TRUE AS seeded_verified_ok"
            " FROM (" + _sql_minhash_poly(num_hashes=8, bands=4,
                                          threshold=0.3) + ") p"),
        "simhash_gate": (
            "SELECT p.*, TRUE AS cands_nonempty, TRUE AS cands_quadrant_ok,"
            " TRUE AS cands_ordered_ok"
            " FROM (" + _sql_simhash_poly(bits=24) + ") p"),
        "dup_clusters": _sql_dup_clusters(threshold=0.2),
        "image_phash_dedup": """
            -- every hash bit recomputed CLOSED-FORM from the fixture's
            -- pixel arithmetic (g(x,y) = (a*x+b*y) % 200 + c + stripe at
            -- x=0 for the third doc group; gray == channel value; 8x8 /
            -- 8x9 nearest grids sample at floor(j*W/8), floor(i*H/8) with
            -- W=32, H=20; x=0 is sampled only at grid column j=0 in both
            -- grids), then an EXHAUSTIVE Hamming<=6 pair join — no
            -- banding, so any under-recall in the engine's banded join
            -- fails the n_dups counts (r10 ADVICE fix).
            -- groups 300-399 / 400-499 are PNG / GIF re-encodings of the
            -- 0-99 gradients (c=10, no stripe): same closed-form pixels,
            -- so the same hash arithmetic covers them — the engine must
            -- decode the zlib/filtered PNG bytes and the LZW-compressed
            -- (half interlaced) GIF bytes to the identical values.
            -- groups 500-599 / 600-699 (r11) are REAL baseline JPEGs
            -- (gray / 4:4:4 / 4:2:0 per doc_id % 3) over the same
            -- gradient SNAPPED to 8x8 blocks (snap=1 flag): block-
            -- constant gray content roundtrips the DC-8 flat quant
            -- table bit-exactly, so the closed form below is the exact
            -- decoded pixel; 600-699 are brightness-shifted (c=30)
            -- copies that must pair with 500-599 at Hamming distance 0;
            -- 700-799 (r11) are PROGRESSIVE (SOF2) re-encodings of the
            -- 500 content — same quantized coefficients, so the same
            -- closed form (c=10, snap) and distance-0 pairs again.
            -- the table holds 500 ids at this SF, so the JPEG groups
            -- are id-shifted fan-outs of doc_id < 100 (as in the engine)
            WITH ids AS (
                SELECT doc_id FROM documents WHERE doc_id < 500
                UNION ALL
                SELECT doc_id + 500 FROM documents WHERE doc_id < 100
                UNION ALL
                SELECT doc_id + 600 FROM documents WHERE doc_id < 100
                UNION ALL
                SELECT doc_id + 700 FROM documents WHERE doc_id < 100
            ), params AS (
                SELECT doc_id,
                       2 + (doc_id % 100) % 9 AS a,
                       3 + (doc_id % 100) % 7 AS b,
                       CASE WHEN (doc_id >= 100 AND doc_id < 200)
                              OR doc_id >= 600
                            THEN 30 ELSE 10 END AS c,
                       CASE WHEN doc_id >= 200 AND doc_id < 300
                            THEN 40 ELSE 0 END AS stripe,
                       CASE WHEN doc_id >= 500 THEN 8 ELSE 1 END AS snap
                FROM ids
            ), grid8 AS (
                SELECT i.generate_series AS i, j.generate_series AS j
                FROM generate_series(0, 7) i, generate_series(0, 7) j
            ), g8 AS (
                SELECT p.doc_id, gr.i, gr.j,
                       (p.a * (p.snap * (((gr.j * 32) // 8) // p.snap))
                        + p.b * (p.snap * (((gr.i * 20) // 8) // p.snap)))
                       % 200 + p.c
                       + CASE WHEN gr.j = 0 THEN p.stripe ELSE 0 END AS g
                FROM params p, grid8 gr
            ), a8 AS (
                SELECT doc_id, i * 8 + j AS k, g,
                       sum(g) OVER (PARTITION BY doc_id) AS tot
                FROM g8
            ), ah AS (
                SELECT doc_id,
                       CAST(sum(CASE WHEN 64 * g >= tot THEN
                                  CASE WHEN k = 0
                                       THEN CAST(-9223372036854775808
                                                 AS BIGINT)
                                       ELSE (CAST(1 AS BIGINT) << (63 - k))
                                  END ELSE 0 END) AS BIGINT) AS ahash
                FROM a8 GROUP BY doc_id
            ), grid9 AS (
                SELECT i.generate_series AS i, j.generate_series AS j
                FROM generate_series(0, 7) i, generate_series(0, 8) j
            ), g9 AS (
                SELECT p.doc_id, gr.i, gr.j,
                       (p.a * (p.snap * (((gr.j * 32) // 9) // p.snap))
                        + p.b * (p.snap * (((gr.i * 20) // 8) // p.snap)))
                       % 200 + p.c
                       + CASE WHEN gr.j = 0 THEN p.stripe ELSE 0 END AS g
                FROM params p, grid9 gr
            ), dh AS (
                SELECT l.doc_id,
                       CAST(sum(CASE WHEN r.g > l.g THEN
                                  CASE WHEN l.i * 8 + l.j = 0
                                       THEN CAST(-9223372036854775808
                                                 AS BIGINT)
                                       ELSE (CAST(1 AS BIGINT)
                                             << (63 - (l.i * 8 + l.j)))
                                  END ELSE 0 END) AS BIGINT) AS dhash
                FROM g9 l JOIN g9 r
                  ON l.doc_id = r.doc_id AND l.i = r.i AND r.j = l.j + 1
                WHERE l.j < 8
                GROUP BY l.doc_id
            ), hashes AS (
                SELECT ah.doc_id, ah.ahash, dh.dhash
                FROM ah JOIN dh ON ah.doc_id = dh.doc_id
            ), pairs AS (
                SELECT x.doc_id AS id_a, y.doc_id AS id_b
                FROM hashes x JOIN hashes y ON x.doc_id < y.doc_id
                WHERE bit_count(CAST(xor(x.ahash, y.ahash) AS BIGINT)) <= 6
            ), cnt AS (
                SELECT doc_id, count(*) AS nd FROM (
                    SELECT id_a AS doc_id FROM pairs
                    UNION ALL SELECT id_b FROM pairs
                ) GROUP BY doc_id
            )
            SELECT h.doc_id, h.ahash, h.dhash,
                   CAST(coalesce(c.nd, 0) AS BIGINT) AS n_dups
            FROM hashes h LEFT JOIN cnt c ON h.doc_id = c.doc_id
        """,
        "boilerplate_removal": """
            -- expected clean text / block counts CONSTRUCTED from the
            -- fixture arithmetic: nav + footer are link-dense (dropped),
            -- the title is under min_chars (dropped), body paragraphs
            -- survive with the &amp; entity decoded
            SELECT doc_id,
                   'This is the main body of document ' || doc_id
                   || '. It talks about topic' || (doc_id % 7)
                   || ' at length and has enough characters to pass the'
                   || ' block threshold.'
                   || CASE WHEN doc_id % 3 = 0 THEN
                        ' Second paragraph with more prose about topic'
                        || (doc_id % 5) || ' & extra details.'
                      ELSE '' END AS clean_text,
                   CAST(CASE WHEN doc_id % 3 = 0 THEN 5 ELSE 4 END
                        AS INTEGER) AS n_blocks,
                   CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END
                        AS INTEGER) AS n_kept
            FROM documents WHERE doc_id < 400
        """,
        "snapshot_diff": """
            -- statuses constructed directly from the snapshot arithmetic
            SELECT doc_id,
                   CASE WHEN doc_id % 17 = 0 THEN 'removed'
                        WHEN doc_id % 11 = 0 THEN 'changed'
                        ELSE 'unchanged' END AS status
            FROM documents WHERE doc_id < 3000
            UNION ALL
            SELECT doc_id + 100000 AS doc_id, 'added' AS status
            FROM documents WHERE doc_id < 3000 AND doc_id % 13 = 0
        """,
        "crawl_curation_pipeline": f"""
            -- every stage reconstructed from the warc-fixture doc_id
            -- arithmetic: status/text gates, the per-domain cap via the
            -- affine-rank twin, the temperature probs over the CAPPED
            -- frame, and the same strict u < p mixture draw
            WITH base AS (
                SELECT doc_id,
                       'site' || (doc_id % 7) || '.example' AS domain,
                       CASE WHEN doc_id % 9 = 0 THEN 404 ELSE 200 END
                           AS status,
                       CASE WHEN doc_id % 5 = 0 THEN 'plain ' || doc_id
                            ELSE 'Doc ' || doc_id || ' token' || doc_id
                                 || ' & tail' END AS text
                FROM documents WHERE doc_id < 150
            ), ranked AS (
                SELECT doc_id, domain,
                       row_number() OVER (PARTITION BY domain
                                          ORDER BY {u11}, doc_id) AS rn
                FROM base WHERE status = 200 AND length(text) >= 12
            ), cap AS (
                SELECT doc_id, domain FROM ranked WHERE rn <= 12
            ), {sampling.sql_temperature_mixture_probs(
                "domain", "cap", alpha=0.5, budget_frac=0.8)}
            SELECT b.doc_id, b.domain,
                   CASE WHEN b.status != 200 THEN 'drop_status'
                        WHEN length(b.text) < 12 THEN 'drop_short'
                        WHEN r.rn IS NULL OR r.rn > 12
                             THEN 'drop_domain_cap'
                        WHEN {sampling.sql_affine_uniform(
                            "b.doc_id", seed=7)} >= p.p
                             THEN 'drop_mixture'
                        ELSE 'keep' END AS disposition
            FROM base b
            LEFT JOIN ranked r ON b.doc_id = r.doc_id
            LEFT JOIN p ON b.domain = p.domain
        """,
        "temperature_mixture": f"""
            WITH {sampling.sql_temperature_mixture_probs(
                "lang", "documents", alpha=0.5, budget_frac=0.5)},
            k AS (
                SELECT d.doc_id, d.lang
                FROM documents d JOIN p USING (lang)
                WHERE {sampling.sql_affine_uniform("d.doc_id", seed=13)} < p.p
            )
            SELECT lang, count(*) AS n_kept,
                   CAST(sum(doc_id) AS BIGINT) AS id_checksum
            FROM k GROUP BY lang
        """,
        # compound r11 gate: exact keep-list + LSH keep-list + recall in
        # one result — nv/vp come from the shared poly-LSH CTEs, the exact
        # pair graph reuses nv, and each graph gets its own recursive
        # transitive closure (reach_e / reach_l).
        "semantic_gate": f"""
            WITH RECURSIVE {_sql_semantic_lsh_ctes(3, 12, 0.30)},
            exact AS (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM nv a, nv b
                WHERE a.vec_id < b.vec_id
                  AND list_reduce(list_prepend(0.0,
                        list_transform(range(1, len(a.v) + 1),
                                       i -> a.v[i] * b.v[i])),
                        (acc, x) -> acc + x) / (a.nrm * b.nrm) >= 0.30
            ),
            ee AS (
                SELECT id_a AS src, id_b AS dst FROM exact
                UNION SELECT id_b AS src, id_a AS dst FROM exact
            ),
            reach_e(src, dst) AS (
                SELECT src, src FROM ee
                UNION
                SELECT r.src, e2.dst FROM reach_e r JOIN ee e2 ON r.dst = e2.src
            ),
            cle AS (SELECT src AS id, min(dst) AS cluster_id
                    FROM reach_e GROUP BY src),
            el AS (
                SELECT id_a AS src, id_b AS dst FROM vp
                UNION SELECT id_b AS src, id_a AS dst FROM vp
            ),
            reach_l(src, dst) AS (
                SELECT src, src FROM el
                UNION
                SELECT r.src, e2.dst FROM reach_l r JOIN el e2 ON r.dst = e2.src
            ),
            cll AS (SELECT src AS id, min(dst) AS cluster_id
                    FROM reach_l GROUP BY src),
            j AS (
                SELECT e.id_a,
                       CASE WHEN v.id_a IS NULL THEN 0 ELSE 1 END AS hit
                FROM exact e
                LEFT JOIN vp v ON v.id_a = e.id_a AND v.id_b = e.id_b
            ),
            rec AS (
                SELECT count(*) AS n_exact,
                       CAST(COALESCE(sum(hit), 0) AS BIGINT) AS n_hit,
                       round(CASE WHEN count(*) > 0
                                  THEN sum(hit) * 1.0 / count(*)
                                  ELSE 1.0 END, 6) AS recall
                FROM j
            )
            SELECT emb.vec_id AS id,
                   COALESCE(cle.cluster_id = emb.vec_id, TRUE) AS keep_exact,
                   COALESCE(cll.cluster_id = emb.vec_id, TRUE) AS keep_lsh,
                   rec.n_exact, rec.n_hit, rec.recall
            FROM embeddings emb
            LEFT JOIN cle ON cle.id = emb.vec_id
            LEFT JOIN cll ON cll.id = emb.vec_id
            CROSS JOIN rec
        """,
        "q6_forecast": """
            SELECT sum(l_extendedprice * l_discount) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01'
              AND l_shipdate < TIMESTAMP '1996-01-01'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "q3_shipping": """
            SELECT l_orderkey, o_orderpriority,
                   sum(l_extendedprice * (1 - l_discount)) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1998-01-01'
            GROUP BY l_orderkey, o_orderpriority
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """,
        "q5_local_supplier": """
            SELECT n_name,
                   sum(l_extendedprice * (1 - l_discount)) AS revenue
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
                         AND c_nationkey = s_nationkey
            JOIN nation   ON s_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01'
              AND o_orderdate <  TIMESTAMP '1997-01-01'
            GROUP BY n_name
            ORDER BY revenue DESC, n_name
        """,
        "q18_large_orders": """
            SELECT c_name, c_custkey, o_orderkey,
                   epoch_us(o_orderdate) AS o_orderdate_us,
                   o_totalprice, total_qty
            FROM orders
            JOIN (SELECT l_orderkey, sum(l_quantity) AS total_qty
                  FROM lineitem GROUP BY l_orderkey
                  HAVING sum(l_quantity) > 300) big
              ON o_orderkey = big.l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 100
        """,
        # the linter invariants the engine's flagship plans must hold;
        # any plan or linter regression flips a value off this row
        "plan_lint_gate": """
            SELECT CAST(0 AS BIGINT) AS n_cartesian,
                   CAST(0 AS BIGINT) AS n_single_partition,
                   CAST(0 AS BIGINT) AS n_row_udfs,
                   CAST(0 AS BIGINT) AS n_error_warn,
                   TRUE AS partial_agg_all,
                   TRUE AS q5_broadcasts
        """,
        # skew pair: the uncapped candidate graph is exact poly arithmetic
        # (full value check incl. id checksum); the capped twin's sampling
        # is xxhash64-seeded, so its oracle value-checks n_hot and pins
        # the bounded-below-clique invariants TRUE
        "lsh_skew_uncapped": f"""
            WITH {_sql_lsh_skew_ctes()}
            SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                   CAST(coalesce(sum(CASE WHEN id_a % 5 = 0 AND id_b % 5 = 0
                                          THEN 1 ELSE 0 END), 0) AS BIGINT)
                       AS hot_pairs,
                   CAST(coalesce(sum(id_a + id_b), 0) AS BIGINT) AS sum_ids
            FROM cand
        """,
        "lsh_skew_capped": """
            SELECT CAST(count(*) AS BIGINT) AS n_hot,
                   TRUE AS below_hot_clique,
                   TRUE AS has_pairs
            FROM embeddings WHERE vec_id % 5 = 0
        """,
        # exact_n is the value check; the two sketch invariants (merge
        # stability, 5% accuracy) are booleans the oracle pins TRUE
        "hll_merge_gate": """
            SELECT o_orderpriority,
                   CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_n,
                   TRUE AS merged_close_single,
                   TRUE AS rel_err_ok
            FROM orders GROUP BY o_orderpriority
        """,
        "dedup_keep_list": _sql_keep_list_poly(num_hashes=8, bands=4,
                                               threshold=0.3),
        "stratified_sample": f"""
            SELECT lang, count(*) AS n_kept
            FROM documents
            WHERE {u7} < CASE WHEN lang = 'en' THEN 0.5
                              WHEN lang = 'es' THEN 0.25
                              ELSE 0.0 END
            GROUP BY lang
        """,
        "split_assign": f"""
            SELECT {split_case} AS split, count(*) AS n
            FROM documents GROUP BY 1
        """,
        "group_sem": """
            SELECT l_returnflag,
                   round(stddev_samp(l_quantity) / sqrt(count(l_quantity)), 9)
                       AS sem_qty,
                   round(sqrt(var_pop(l_quantity) * count(l_quantity)
                              / (count(l_quantity) - 2))
                         / sqrt(count(l_quantity)), 9) AS sem_qty_ddof2
            FROM lineitem GROUP BY l_returnflag
        """,
        "group_rank_methods": """
            WITH d AS (
                SELECT l_returnflag, count(DISTINCT l_quantity) AS nd
                FROM lineitem GROUP BY l_returnflag
            )
            SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
                   l.l_quantity AS qty,
                   rank() OVER w
                     + (count(*) OVER (PARTITION BY l.l_returnflag,
                                       l.l_quantity) - 1) / 2.0 AS avg_rank,
                   CAST(rank() OVER w
                     + count(*) OVER (PARTITION BY l.l_returnflag,
                                      l.l_quantity) - 1 AS DOUBLE) AS max_rank,
                   round(dense_rank() OVER w * 1.0 / d.nd, 9) AS dense_pct
            FROM lineitem l JOIN d USING (l_returnflag)
            WINDOW w AS (PARTITION BY l.l_returnflag ORDER BY l.l_quantity)
        """,
        "group_take": """
            WITH r AS (
                SELECT event_id, event_type, value,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY event_id) AS rn,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY event_id DESC) AS rb
                FROM events WHERE event_type IS NOT NULL
            )
            SELECT event_id, event_type, round(value, 6) AS value
            FROM r WHERE rn IN (1, 3) OR rb = 1
        """,
        "corrwith": """
            SELECT l_returnflag,
                   round(corr(l_quantity, l_extendedprice), 9) AS qty_corr,
                   round(corr(l_discount, l_extendedprice), 9) AS disc_corr
            FROM lineitem GROUP BY l_returnflag
        """,
        "duplicated_flags": """
            SELECT doc_id,
                   row_number() OVER (PARTITION BY text ORDER BY doc_id) > 1
                       AS dup_first,
                   count(*) OVER (PARTITION BY text) > 1 AS dup_any
            FROM documents
        """,
        "qcut_deciles": """
            WITH b AS (
                SELECT quantile_cont(n_chars,
                    [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
                FROM documents
            )
            SELECT doc_id, n_chars,
                   len(list_filter(b.qs, q -> d.n_chars > q)) AS qbin
            FROM documents d, b
        """,
        "pivot_table_mean": """
            WITH cells AS (
                SELECT source, lang, avg(n_chars) AS m
                FROM documents GROUP BY source, lang
            ), rows_all AS (
                SELECT source, 'All' AS lang, avg(n_chars) AS m
                FROM documents GROUP BY source
            ), col_all AS (
                SELECT 'All' AS source, lang, avg(n_chars) AS m
                FROM documents GROUP BY lang
            ), grand AS (
                SELECT 'All' AS source, 'All' AS lang, avg(n_chars) AS m
                FROM documents
            ), u AS (
                SELECT * FROM cells UNION ALL SELECT * FROM rows_all
                UNION ALL SELECT * FROM col_all UNION ALL SELECT * FROM grand
            )
            SELECT source,
                   round(max(CASE WHEN lang = 'de' THEN m END), 9) AS de,
                   round(max(CASE WHEN lang = 'en' THEN m END), 9) AS en,
                   round(max(CASE WHEN lang = 'es' THEN m END), 9) AS es,
                   round(max(CASE WHEN lang = 'fr' THEN m END), 9) AS fr,
                   round(max(CASE WHEN lang = 'zh' THEN m END), 9) AS zh,
                   round(max(CASE WHEN lang = 'All' THEN m END), 9) AS "All"
            FROM u GROUP BY source
        """,
        "expanding_stats": """
            -- decimal-exact twin: windowed sums over DECIMAL(18,6) are
            -- exact (association-order-independent), so they equal the
            -- engine's decomposed prefix sums bit-for-bit; the double
            -- division shapes below mirror GroupBy._window_stat verbatim.
            -- Sums convert decimal->double via VARCHAR: DuckDB's direct
            -- decimal cast double-rounds (hugeint->double, then /10^scale)
            -- once the unscaled value exceeds 2^53, while Spark's
            -- BigDecimal.doubleValue is correctly rounded; string->double
            -- is correctly rounded in both engines.
            WITH b AS (
                SELECT event_id, user_id,
                       CAST(round(value, 6) AS DECIMAL(18,6)) AS v
                FROM events WHERE user_id IS NOT NULL
            ), r AS (
                SELECT event_id, user_id,
                       sum(v) OVER w AS c, sum(v*v) OVER w AS c2,
                       count(v) OVER w AS nn
                FROM b
                WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT event_id, user_id,
                   CASE WHEN nn >= 2 THEN CAST(CAST(c AS VARCHAR) AS DOUBLE) / nn
                   END AS run_mean,
                   CASE WHEN nn >= 2 AND nn > 1 THEN
                        sqrt(greatest(CAST(CAST(c2 AS VARCHAR) AS DOUBLE)
                                      - CAST(CAST(c AS VARCHAR) AS DOUBLE) * CAST(CAST(c AS VARCHAR) AS DOUBLE)
                                        / nn, 0.0) / (nn - 1))
                   END AS run_std
            FROM r
        """,
        "ewm_mean": """
            WITH r AS (
                SELECT event_id, user_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY event_id) AS rn
                FROM events WHERE user_id IS NOT NULL
            )
            SELECT a.event_id, a.user_id,
                   sum(b.value * pow(0.9, a.rn - b.rn))
                       / sum(pow(0.9, a.rn - b.rn)) AS ewm_v
            FROM r a JOIN r b
              ON a.user_id = b.user_id AND b.rn <= a.rn
            GROUP BY a.event_id, a.user_id
        """,
        "resample_agg": """
            SELECT event_type,
                   time_bucket(INTERVAL '1 hour', ts) AS bucket,
                   count(*) AS n,
                   round(CAST(sum(CAST(value AS DECIMAL(27,6))) AS DOUBLE), 6)
                       AS sum_v
            FROM events WHERE event_type IS NOT NULL
            GROUP BY event_type, bucket
        """,
        "group_ohlc": """
            SELECT event_type,
                   round(arg_min(value, event_id), 6) AS v_open,
                   round(max(value), 6) AS v_high,
                   round(min(value), 6) AS v_low,
                   round(arg_max(value, event_id), 6) AS v_close
            FROM events WHERE event_type IS NOT NULL
            GROUP BY event_type
        """,
        "group_describe": """
            SELECT l_returnflag,
                   count(l_quantity) AS cnt,
                   round(avg(l_quantity), 9) AS mean_qty,
                   round(stddev_samp(l_quantity), 9) AS std_qty,
                   min(l_quantity) AS min_qty,
                   round(quantile_cont(l_quantity, 0.25), 9) AS q25,
                   round(quantile_cont(l_quantity, 0.5), 9) AS q50,
                   round(quantile_cont(l_quantity, 0.75), 9) AS q75,
                   max(l_quantity) AS max_qty
            FROM lineitem GROUP BY l_returnflag
        """,
        "group_nlargest": """
            WITH r AS (
                SELECT event_type, event_id, value,
                       row_number() OVER (PARTITION BY event_type
                           ORDER BY value DESC, event_id) AS rt,
                       row_number() OVER (PARTITION BY event_type
                           ORDER BY value ASC, event_id) AS rb
                FROM events
                WHERE value IS NOT NULL AND event_type IS NOT NULL
            )
            SELECT event_type, event_id, round(value, 6) AS value,
                   'top' AS side FROM r WHERE rt <= 3
            UNION ALL
            SELECT event_type, event_id, round(value, 6) AS value,
                   'bottom' AS side FROM r WHERE rb <= 2
        """,
        "ngroup": """
            SELECT doc_id, source,
                   dense_rank() OVER (ORDER BY source) - 1 AS ngroup
            FROM documents
        """,
        "group_fill": """
            WITH b AS (
                SELECT event_id, event_type,
                       CASE WHEN event_id % 7 >= 2 THEN value END AS v
                FROM events
            ), r AS (
                SELECT event_id, event_type, v,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY event_id) AS rn,
                       last_value(v IGNORE NULLS) OVER (
                           PARTITION BY event_type ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS vf,
                       first_value(v IGNORE NULLS) OVER (
                           PARTITION BY event_type ORDER BY event_id
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                       ) AS vb
                FROM b
            ), d AS (
                SELECT *, max(CASE WHEN v IS NOT NULL THEN rn END) OVER (
                           PARTITION BY event_type ORDER BY rn
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS donor
                FROM r
            )
            SELECT event_id, event_type, round(v, 6) AS v,
                   round(vf, 6) AS v_f, round(vb, 6) AS v_b,
                   round(CASE WHEN v IS NOT NULL THEN v
                              WHEN rn - donor <= 2 THEN vf END, 6) AS v_f2
            FROM d
        """,
        "group_ffill_scale": """
            SELECT event_id, event_type,
                   round(CASE WHEN event_id % 7 >= 2 THEN value END, 6) AS v,
                   round(last_value(CASE WHEN event_id % 7 >= 2 THEN value END
                                    IGNORE NULLS) OVER (
                       PARTITION BY event_type ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ), 6) AS v_f
            FROM events
        """,
        "streaming_ewm": """
            WITH r AS (
                SELECT event_id, user_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY event_id) AS rn
                FROM events WHERE user_id IS NOT NULL
            )
            SELECT a.user_id, a.event_id,
                   sum(b.value * pow(0.9, a.rn - b.rn))
                       / sum(pow(0.9, a.rn - b.rn)) AS ewm_v
            FROM r a JOIN r b
              ON a.user_id = b.user_id AND b.rn <= a.rn
            GROUP BY a.event_id, a.user_id
        """,
        "group_bfill_scale": """
            SELECT event_id, event_type,
                   round(CASE WHEN event_id % 7 >= 2 THEN value END, 6) AS v,
                   round(first_value(CASE WHEN event_id % 7 >= 2 THEN value END
                                     IGNORE NULLS) OVER (
                       PARTITION BY event_type ORDER BY event_id
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
                   ), 6) AS v_b
            FROM events
        """,
        "group_rolling_time_scale": """
            -- decimal-exact twin (see expanding_stats): exact RANGE-frame
            -- sums == the engine's anchor-asof cumulative differences;
            -- double division shapes mirror grouped_rolling_time verbatim
            WITH b AS (
                SELECT event_id, event_type,
                       CASE WHEN event_id % 7 >= 2
                            THEN CAST(round(value, 6) AS DECIMAL(18,6))
                       END AS v
                FROM events
            ), r AS (
                SELECT event_id, event_type, v,
                       sum(v) OVER w AS s, sum(v*v) OVER w AS s2,
                       count(v) OVER w AS nn
                FROM b
                WINDOW w AS (PARTITION BY event_type ORDER BY event_id
                             RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
            )
            SELECT event_id, event_type, CAST(v AS DOUBLE) AS v,
                   CASE WHEN nn >= 2 THEN CAST(CAST(s AS VARCHAR) AS DOUBLE) END AS v_tsum,
                   CASE WHEN nn >= 2 THEN CAST(CAST(s AS VARCHAR) AS DOUBLE) / nn
                   END AS v_tmean,
                   CASE WHEN nn >= 2 THEN nn END AS v_tcount,
                   CASE WHEN nn >= 2 AND nn > 1 THEN
                        greatest(CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
                                 - CAST(CAST(s AS VARCHAR) AS DOUBLE) * CAST(CAST(s AS VARCHAR) AS DOUBLE) / nn,
                                 0.0) / (nn - 1)
                   END AS v_tvar
            FROM r
        """,
        "group_rank_scale": """
            WITH d AS (
                SELECT l_returnflag, count(DISTINCT l_quantity) AS nd
                FROM lineitem GROUP BY l_returnflag
            )
            SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
                   CAST(l.l_quantity AS DOUBLE) AS qty,
                   rank() OVER w
                     + (count(*) OVER (PARTITION BY l.l_returnflag,
                                       l.l_quantity) - 1) / 2.0 AS avg_rank,
                   CAST(rank() OVER w
                     + count(*) OVER (PARTITION BY l.l_returnflag,
                                      l.l_quantity) - 1 AS DOUBLE) AS max_rank,
                   round(dense_rank() OVER w * 1.0 / d.nd, 9) AS dense_pct
            FROM lineitem l JOIN d USING (l_returnflag)
            WINDOW w AS (PARTITION BY l.l_returnflag ORDER BY l.l_quantity)
        """,
        "group_cumminmax_scale": """
            SELECT event_id, event_type,
                   round(CASE WHEN event_id % 7 >= 2 THEN value END, 6) AS v,
                   round(min(CASE WHEN event_id % 7 >= 2 THEN value END)
                         OVER w, 6) AS cmin,
                   round(max(CASE WHEN event_id % 7 >= 2 THEN value END)
                         OVER w, 6) AS cmax
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "group_expanding_scale": """
            -- decimal-exact twin (see expanding_stats): exact expanding
            -- sums == the engine's prefix sums; double division shapes
            -- mirror grouped_expanding verbatim
            WITH b AS (
                SELECT event_id, event_type,
                       CASE WHEN event_id % 7 >= 2
                            THEN CAST(round(value, 6) AS DECIMAL(18,6))
                       END AS v
                FROM events
            ), r AS (
                SELECT event_id, event_type, v,
                       sum(v) OVER w AS c, sum(v*v) OVER w AS c2,
                       count(v) OVER w AS nn
                FROM b
                WINDOW w AS (PARTITION BY event_type ORDER BY event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT event_id, event_type, CAST(v AS DOUBLE) AS v,
                   CASE WHEN nn >= 4 THEN CAST(CAST(c AS VARCHAR) AS DOUBLE) / nn
                   END AS exp_mean,
                   CASE WHEN nn >= 4 AND nn > 1 THEN
                        greatest(CAST(CAST(c2 AS VARCHAR) AS DOUBLE)
                                 - CAST(CAST(c AS VARCHAR) AS DOUBLE) * CAST(CAST(c AS VARCHAR) AS DOUBLE) / nn,
                                 0.0) / (nn - 1)
                   END AS exp_var,
                   CASE WHEN nn >= 4 AND nn > 1 THEN
                        sqrt(greatest(CAST(CAST(c2 AS VARCHAR) AS DOUBLE)
                                      - CAST(CAST(c AS VARCHAR) AS DOUBLE) * CAST(CAST(c AS VARCHAR) AS DOUBLE)
                                        / nn, 0.0) / (nn - 1))
                   END AS exp_std
            FROM r
        """,
        "group_shift_scale": """
            SELECT event_id, event_type, round(value, 6) AS value,
                   round(lag(value, 3) OVER w, 6) AS lag3,
                   round(lead(value, 2) OVER w, 6) AS lead2
            FROM events
            WINDOW w AS (PARTITION BY event_type ORDER BY event_id)
        """,
        "group_rolling_scale": """
            -- decimal-exact twin (see expanding_stats): exact frame sums
            -- == the engine's prefix differences; double division shapes
            -- mirror grouped_rolling_sum/_mean/_var verbatim
            WITH b AS (
                SELECT event_id, event_type,
                       CASE WHEN event_id % 7 >= 2
                            THEN CAST(round(value, 6) AS DECIMAL(18,6))
                       END AS v
                FROM events
            ), r AS (
                SELECT event_id, event_type, v,
                       sum(v) OVER w AS s, sum(v*v) OVER w AS s2,
                       count(v) OVER w AS nn
                FROM b
                WINDOW w AS (PARTITION BY event_type ORDER BY event_id
                             ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
            )
            SELECT event_id, event_type, CAST(v AS DOUBLE) AS v,
                   CASE WHEN nn >= 5 THEN CAST(CAST(s AS VARCHAR) AS DOUBLE) END AS rsum,
                   CASE WHEN nn >= 5 THEN CAST(CAST(s AS VARCHAR) AS DOUBLE) / nn
                   END AS rmean,
                   CASE WHEN nn >= 5 AND nn > 1 THEN
                        greatest(CAST(CAST(s2 AS VARCHAR) AS DOUBLE)
                                 - CAST(CAST(s AS VARCHAR) AS DOUBLE) * CAST(CAST(s AS VARCHAR) AS DOUBLE) / nn,
                                 0.0) / (nn - 1)
                   END AS rvar
            FROM r
        """,
        "group_take_scale": """
            WITH r AS (
                SELECT event_id, event_type, value,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY event_id) AS rn,
                       count(*) OVER (PARTITION BY event_type) AS sz
                FROM events
            )
            SELECT event_id, event_type, round(value, 6) AS value
            FROM r
            WHERE rn IN (1, 3) OR sz - rn + 1 = 1
        """,
        "ewm_var_std": """
            WITH r AS (
                SELECT event_id, user_id, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY event_id) AS rn
                FROM events WHERE user_id IS NOT NULL
            ), m AS (
                SELECT a.event_id, a.user_id,
                       sum(pow(0.9, a.rn - b.rn)) AS w1,
                       sum(pow(0.81, a.rn - b.rn)) AS w2,
                       sum(b.value * pow(0.9, a.rn - b.rn)) AS sx,
                       sum(b.value * b.value * pow(0.9, a.rn - b.rn)) AS sxx
                FROM r a JOIN r b
                  ON a.user_id = b.user_id AND b.rn <= a.rn
                GROUP BY a.event_id, a.user_id
            )
            SELECT event_id, user_id,
                   CASE WHEN w1 * w1 > w2 THEN
                        w1 * w1 / (w1 * w1 - w2)
                        * greatest(sxx / w1 - (sx / w1) * (sx / w1), 0)
                   END AS ewm_var,
                   CASE WHEN w1 * w1 > w2 THEN
                        sqrt(w1 * w1 / (w1 * w1 - w2)
                             * greatest(sxx / w1 - (sx / w1) * (sx / w1), 0))
                   END AS ewm_std
            FROM m
        """,
        "group_skew_kurt": """
            SELECT l_returnflag,
                   round(skewness(l_quantity), 9) AS skew_qty,
                   round(kurtosis(l_quantity), 9) AS kurt_qty,
                   round(skewness(l_extendedprice), 9) AS skew_price,
                   round(kurtosis(l_extendedprice), 9) AS kurt_price
            FROM lineitem GROUP BY l_returnflag
        """,
        "group_prod_any_all": """
            SELECT source,
                   round(product(1.0 + 1.0 / (n_chars + 100.0)), 6)
                       AS factor_prod,
                   coalesce(bool_or(n_chars > 4000), FALSE) AS any_long,
                   coalesce(bool_and(n_chars > 50), TRUE) AS all_not_tiny
            FROM documents GROUP BY source
        """,
        "cumprod": """
            SELECT doc_id, source,
                   round(product(1.0 + 1.0 / (n_chars + 100.0)) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
                       AS running_factor
            FROM documents
        """,
        "group_idxminmax": """
            WITH g AS (SELECT DISTINCT event_type FROM events
                       WHERE event_type IS NOT NULL),
            rmax AS (
                SELECT event_type, event_id,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY value DESC, event_id ASC) AS rn
                FROM events WHERE value IS NOT NULL
            ), rmin AS (
                SELECT event_type, event_id,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY value ASC, event_id ASC) AS rn
                FROM events WHERE value IS NOT NULL
            )
            -- LEFT joins from the full group list: an all-NULL group
            -- emits NULL idxmax/idxmin (engine's pandas-skipna contract)
            SELECT g.event_type,
                   a.event_id AS value_idxmax,
                   b.event_id AS value_idxmin
            FROM g
            LEFT JOIN rmax a ON a.event_type = g.event_type AND a.rn = 1
            LEFT JOIN rmin b ON b.event_type = g.event_type AND b.rn = 1
        """,
        "pct_change": """
            SELECT doc_id, source,
                   (len_d - prev) / prev AS len_d_pct_change
            FROM (
                SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS len_d,
                       lag(CAST(n_chars AS DOUBLE)) OVER (
                           PARTITION BY source ORDER BY doc_id) AS prev
                FROM documents)
        """,
        "filter_groups": """
            SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_linestatus
            FROM lineitem l
            SEMI JOIN (
                SELECT l_returnflag, l_linestatus
                FROM lineitem
                GROUP BY l_returnflag, l_linestatus
                HAVING avg(l_discount) > 0.049 AND count(*) > 100
            ) g
            ON l.l_returnflag = g.l_returnflag
               AND l.l_linestatus = g.l_linestatus
        """,
        "token_budget": f"""
            SELECT source, doc_id, n_tok
            FROM {sampling.sql_token_budget_sample(
                "source", "n_tok", 2000, "doc_id", seed=7,
                from_clause="(SELECT doc_id, source, CAST(len(" + _TOKS
                + ") AS BIGINT) AS n_tok FROM documents)")}
        """,
        "quantile_calibration": f"""
            WITH tk AS (SELECT doc_id, source, text, {_TOKS} AS toks,
                               length(text) AS n_chars
                        FROM documents),
            qual AS (
                SELECT doc_id, source,
                       round(0.4 * least(len(toks) / 64.0, 1.0)
                           + 0.3 * least(len(list_filter(toks, t -> t IN ({stop_list})))::DOUBLE / len(toks) * 4, 1.0)
                           + 0.3 * (1.0 - least(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]'))::DOUBLE / n_chars * 10, 1.0)), 6) AS q
                FROM tk),
            thr AS (SELECT source, round(quantile_cont(q, 0.7), 9) AS t
                    FROM qual GROUP BY source)
            SELECT qual.doc_id, qual.source, qual.q
            FROM qual JOIN thr ON qual.source = thr.source
            WHERE qual.q >= thr.t
        """,
        "leakage_split": _sql_leakage_split(threshold=0.2),
        "leakage_split_lsh": _sql_leakage_split_lsh(num_hashes=8, bands=4,
                                                    threshold=0.3),
        "sample_per_group": f"""
            SELECT lang, doc_id FROM (
                SELECT lang, doc_id,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY {u11}, doc_id) AS rn
                FROM documents)
            WHERE rn <= 5
        """,
        "pack_chunks": f"""
            WITH t AS (
                SELECT doc_id, CAST(len({_TOKS}) AS BIGINT) AS n_tok,
                       {u5} AS u
                FROM documents
            ), s AS (
                SELECT doc_id, n_tok, u,
                       CAST(FLOOR(u * 1073741824.0) AS BIGINT) % 4 AS shard
                FROM t
            ), c AS (
                SELECT doc_id, shard, n_tok,
                       CAST(sum(n_tok) OVER (PARTITION BY shard
                            ORDER BY u, doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                            AS BIGINT) AS cum
                FROM s
            )
            SELECT doc_id, shard,
                   CAST(FLOOR((cum - n_tok) / 256.0) AS BIGINT) AS chunk_first,
                   CASE WHEN n_tok > 0
                        THEN CAST(FLOOR((cum - 1) / 256.0) AS BIGINT)
                        ELSE CAST(FLOOR((cum - n_tok) / 256.0) AS BIGINT)
                   END AS chunk_last,
                   (cum - n_tok) % 256 AS offset_in_chunk
            FROM c
        """,
        "repetition_signals": f"""
            WITH {_rep_ctes}
            SELECT l.doc_id, l.n_lines,
                   round(l.dup_line_frac, 6) AS dup_line_frac,
                   round(l.dup_line_char_frac, 6) AS dup_line_char_frac,
                   tk.n_tokens,
                   top.gram AS top_ngram,
                   CAST(COALESCE(top.cnt, 0) AS BIGINT) AS top_ngram_count,
                   round(COALESCE(top.cnt * 2.0 / tk.n_tokens, 0.0), 6)
                     AS top2gram_frac
            FROM lstats l
            JOIN tk USING (doc_id)
            LEFT JOIN top USING (doc_id)
        """,
        "repetition_filter": f"""
            WITH {_rep_ctes}
            SELECT d.doc_id, d.lang
            FROM d
            JOIN lstats USING (doc_id)
            JOIN tk USING (doc_id)
            LEFT JOIN top USING (doc_id)
            WHERE lstats.dup_line_frac <= 0.30
              AND lstats.dup_line_char_frac <= 0.20
              AND COALESCE(top.cnt * 2.0 / tk.n_tokens, 0.0) <= 0.20
        """,
        # compound r11 gate: both global ordered operators in one window SQL
        "global_ordered": """
            SELECT event_id, value,
                   lag(value) OVER (ORDER BY ts, event_id) AS value_shift,
                   CAST(sum(CAST(value AS DECIMAL(27,6)))
                        OVER (ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS DOUBLE) AS running_total
            FROM events
        """,
        "pii_scan": f"""
            WITH inj AS (
                SELECT source,
                       text
                       || CASE WHEN doc_id % 7 = 0
                               THEN ' contact bob.smith+x@example.co.uk now' ELSE '' END
                       || CASE WHEN doc_id % 11 = 3
                               THEN ' host 192.168.0.1 up' ELSE '' END
                       || CASE WHEN doc_id % 13 = 5
                               THEN ' ssn 123-45-6789 end' ELSE '' END
                       || CASE WHEN doc_id % 17 = 2
                               THEN ' call +1 (555) 123-4567 today' ELSE '' END
                       AS text
                FROM documents
            )
            SELECT source,
                   count(*) AS n_docs,
                   CAST(sum({cleaning.sql_pii_count('text', 'email')}) AS BIGINT) AS n_email,
                   CAST(sum({cleaning.sql_pii_count('text', 'ipv4')}) AS BIGINT) AS n_ipv4,
                   CAST(sum({cleaning.sql_pii_count('text', 'ssn')}) AS BIGINT) AS n_ssn,
                   CAST(sum({cleaning.sql_pii_count('text', 'phone')}) AS BIGINT) AS n_phone,
                   CAST(sum(CASE WHEN {cleaning.sql_redact_pii('text')} <> text
                                 THEN 1 ELSE 0 END) AS BIGINT) AS n_redacted
            FROM inj
            GROUP BY source
        """,
        "c4_filter": f"""
            WITH shaped AS (
                SELECT doc_id,
                       replace(replace(text, ' value ', '. '), ' table ', chr(10)) AS text
                FROM documents
            ),
            lined AS (
                SELECT doc_id, text,
                       list_filter(string_split(text, chr(10)),
                                   l -> trim(l) <> '') AS lines
                FROM shaped
            ),
            counted AS (
                SELECT doc_id, text,
                       len(lines) AS n_lines,
                       len(list_filter(lines, l ->
                            right(trim(l), 1) IN ('.', '!', '?', '"', '''')
                            AND len(list_filter(string_split(trim(l), ' '),
                                                w -> w <> '')) >= 5)) AS n_kept_lines,
                       len(regexp_extract_all(text, '[.!?]')) AS n_sentences
                FROM lined
            )
            SELECT doc_id,
                   CAST(n_lines AS INTEGER) AS n_lines,
                   CAST(n_kept_lines AS INTEGER) AS n_kept_lines,
                   CAST(n_sentences AS INTEGER) AS n_sentences,
                   (n_sentences >= 3
                    AND NOT contains(lower(text), 'lorem ipsum')
                    AND NOT contains(text, '{{')
                    AND COALESCE(CASE WHEN n_lines > 0
                                      THEN CAST(n_kept_lines AS DOUBLE) / n_lines END,
                                 0.0) >= 0.0) AS keep
            FROM counted
        """,
        "contamination": f"""
            WITH corpus AS (
                SELECT doc_id, {_TOKS} AS toks FROM documents WHERE doc_id % 97 <> 0
            ),
            bencht AS (
                SELECT {_TOKS} AS toks FROM documents WHERE doc_id % 97 = 0
            ),
            cg AS (SELECT doc_id, list_distinct({_sql_ngrams('toks', 8)}) AS g
                   FROM corpus),
            bg AS (SELECT DISTINCT unnest({_sql_ngrams('toks', 8)}) AS s FROM bencht),
            ex AS (SELECT doc_id, unnest(g) AS s FROM cg),
            hits AS (
                SELECT ex.doc_id, CASE WHEN bg.s IS NOT NULL THEN 1 ELSE 0 END AS hit
                FROM ex LEFT JOIN bg USING (s)
            ),
            agg AS (
                SELECT doc_id, count(*) AS n_grams, CAST(sum(hit) AS BIGINT) AS n_cont
                FROM hits GROUP BY doc_id
            )
            SELECT c.doc_id,
                   COALESCE(agg.n_grams, 0) AS n_grams,
                   COALESCE(agg.n_cont, 0) AS n_contaminated,
                   round(CASE WHEN COALESCE(agg.n_grams, 0) > 0
                              THEN CAST(agg.n_cont AS DOUBLE) / agg.n_grams
                              ELSE 0.0 END, 6) AS contamination_frac,
                   COALESCE(agg.n_cont, 0) > 0 AS contaminated
            FROM (SELECT doc_id FROM corpus) c LEFT JOIN agg USING (doc_id)
        """,
        "tfidf_top_terms": f"""
            WITH t AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
            p AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
            d AS (SELECT term, count(*) AS df FROM p GROUP BY term),
            n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
            s AS (
                SELECT doc_id, term, CAST(tf AS BIGINT) AS tf,
                       CAST(df AS BIGINT) AS df,
                       tf * (ln((nd + 1) / (df + 1)) + 1) AS tfidf
                FROM p JOIN d USING (term) CROSS JOIN n
            )
            SELECT doc_id, term, tf, df, round(tfidf, 6) AS tfidf,
                   CAST(rank AS INTEGER) AS rank
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
                FROM s
            ) WHERE rank <= 3
        """,
        "bm25_rank": f"""
            WITH L AS (SELECT doc_id,
                              len({_TOKS}) AS n_terms,
                              {_TOKS} AS toks
                       FROM documents),
            stats AS (SELECT CAST(count(*) AS DOUBLE) AS nd,
                             avg(n_terms) AS avgdl FROM L),
            t AS (SELECT doc_id, n_terms, unnest(toks) AS term FROM L),
            p AS (SELECT doc_id, n_terms, term, count(*) AS tf
                  FROM t
                  WHERE term IN ({', '.join("'" + q + "'" for q in sorted(set(_BM25_QUERY)))})
                  GROUP BY doc_id, n_terms, term),
            d AS (SELECT term, count(*) AS df FROM p GROUP BY term),
            s AS (
                SELECT doc_id, n_terms,
                       sum(ln(1 + (nd - df + 0.5) / (df + 0.5))
                           * tf * (1.2 + 1.0)
                           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * n_terms / avgdl)))
                       AS bm25
                FROM p JOIN d USING (term) CROSS JOIN stats
                GROUP BY doc_id, n_terms
            )
            SELECT L.doc_id, CAST(L.n_terms AS INTEGER) AS n_terms,
                   round(COALESCE(s.bm25, 0.0), 6) AS bm25
            FROM L LEFT JOIN s USING (doc_id, n_terms)
        """,
        "label_cohesion": """
            WITH ex AS (
                SELECT label,
                       CAST(unnest(embedding) AS DOUBLE) AS x,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings
            ),
            cent AS (SELECT label, i, avg(x) AS c FROM ex GROUP BY label, i),
            exv AS (
                SELECT vec_id, label,
                       CAST(unnest(embedding) AS DOUBLE) AS x,
                       generate_subscripts(embedding, 1) AS i
                FROM embeddings
            ),
            j AS (
                SELECT vec_id, exv.label,
                       sum(x * c) AS dot,
                       sum(x * x) AS ne2,
                       sum(c * c) AS nc2
                FROM exv JOIN cent ON cent.label = exv.label AND cent.i = exv.i
                GROUP BY vec_id, exv.label
            )
            SELECT vec_id, label,
                   round(dot / (sqrt(ne2) * sqrt(nc2)), 6) AS cos_centroid
            FROM j
        """,
        "vocab_top": f"""
            WITH t AS (SELECT unnest({_TOKS}) AS term FROM documents),
            c AS (SELECT term, count(*) AS cnt FROM t GROUP BY term),
            tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM c),
            r AS (
                SELECT term, CAST(cnt AS BIGINT) AS count,
                       row_number() OVER (ORDER BY cnt DESC, term ASC) AS rank,
                       CAST(sum(cnt) OVER (
                            ORDER BY cnt DESC, term ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                            AS DOUBLE) AS cum
                FROM c
            )
            SELECT term, count, CAST(rank AS BIGINT) AS rank,
                   round(cum / total, 6) AS cum_frac
            FROM r CROSS JOIN tot WHERE rank <= 50
        """,
        "oov_rate": f"""
            WITH t AS (SELECT unnest({_TOKS}) AS term FROM documents),
            c AS (SELECT term, count(*) AS cnt FROM t GROUP BY term),
            v AS (
                SELECT term FROM (
                    SELECT term, row_number() OVER (ORDER BY cnt DESC, term ASC) AS rank
                    FROM c
                ) WHERE rank <= 20
            ),
            e AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
            a AS (
                SELECT e.doc_id,
                       CAST(count(*) AS BIGINT) AS n_tokens,
                       CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_oov
                FROM e LEFT JOIN v USING (term)
                GROUP BY e.doc_id
            )
            SELECT d.doc_id,
                   COALESCE(a.n_tokens, 0) AS n_tokens,
                   COALESCE(a.n_oov, 0) AS n_oov,
                   round(CASE WHEN COALESCE(a.n_tokens, 0) > 0
                              THEN CAST(a.n_oov AS DOUBLE) / a.n_tokens
                              ELSE 0.0 END, 6) AS oov_frac
            FROM (SELECT doc_id FROM documents) d LEFT JOIN a USING (doc_id)
        """,
    }
