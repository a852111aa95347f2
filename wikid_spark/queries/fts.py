"""Full-text-search queries over the inverted index (SURVEY.md S4).

The index itself is `operators.fts`; these queries oracle-check the
build (posting counts), AND-search, and BM25 ranking against DuckDB
computing the identical arithmetic from first principles.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from wikid_spark.catalog import table
from wikid_spark.fsutil import _fs_write_text
from wikid_spark.operators.fts import (
    bm25_from_docs,
    near_search,
    build_inverted_index,
    phrase_search,
    search_all,
    search_any,
    search_not,
    search_prefix,
    tokenize,
)
from wikid_spark.queries.similarity import _QUERY_SAMPLE_SQL
from wikid_spark.registry import query

# DuckDB twin of operators.fts.tokenize + build_inverted_index (minus
# positions, which only the phrase-search path needs).
_POSTINGS_CTE = """
    postings AS (
      SELECT doc_id AS doc, t.term,
             len(list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                             x -> x <> '')) AS doc_len
      FROM documents,
           unnest(list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                              x -> x <> '')) AS t(term)
    )
"""

SEARCH_TERMS = ["spark", "vector"]


def _index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return build_inverted_index(
        table(spark, sf_dir, "documents"), "doc_id", "text"
    )


@query(
    "fts_index_stats",
    oracle=f"""
    WITH {_POSTINGS_CTE}
    SELECT term, COUNT(*) AS n_postings, COUNT(DISTINCT doc) AS doc_freq
    FROM postings
    GROUP BY term
    ORDER BY n_postings DESC, term
    LIMIT 50
    """,
    tags=("fts",),
)
def fts_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-build check: per-term posting and document frequencies."""
    return (
        _index(spark, sf_dir)
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("n_postings"),
            F.count_distinct("doc").alias("doc_freq"),
        )
        .orderBy(F.desc("n_postings"), "term")
        .limit(50)
    )


@query(
    "fts_search_and",
    oracle=f"""
    WITH {_POSTINGS_CTE}
    SELECT doc
    FROM postings
    WHERE term IN ('spark', 'vector')
    GROUP BY doc
    HAVING COUNT(DISTINCT term) = 2
    ORDER BY doc
    """,
    tags=("fts",),
)
def fts_search_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AND search: documents containing every query term."""
    return search_all(_index(spark, sf_dir), SEARCH_TERMS).orderBy("doc")


@query(
    "fts_search_or",
    oracle=f"""
    WITH {_POSTINGS_CTE}
    SELECT doc, COUNT(DISTINCT term) AS n_terms
    FROM postings
    WHERE term IN ('spark', 'vector')
    GROUP BY doc
    ORDER BY doc
    """,
    tags=("fts",),
)
def fts_search_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OR search (FTS5 ``spark OR vector``): docs containing either
    term, plus how many of the query terms matched."""
    return search_any(_index(spark, sf_dir), SEARCH_TERMS).orderBy("doc")


@query(
    "fts_search_not",
    oracle=f"""
    WITH {_POSTINGS_CTE}
    SELECT doc FROM postings WHERE term = 'spark'
    EXCEPT
    SELECT doc FROM postings WHERE term = 'vector'
    ORDER BY doc
    """,
    tags=("fts",),
)
def fts_search_not(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT search (FTS5 ``spark NOT vector``): docs with 'spark' and
    without 'vector' — term-pruned scan + left-anti join."""
    return search_not(_index(spark, sf_dir), ["spark"], ["vector"]).orderBy(
        "doc"
    )


@query(
    "fts_search_prefix",
    oracle=f"""
    WITH {_POSTINGS_CTE}
    SELECT doc, COUNT(DISTINCT term) AS n_prefix_terms
    FROM postings
    WHERE term LIKE 'vec%'
    GROUP BY doc
    ORDER BY doc
    """,
    tags=("fts",),
)
def fts_search_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix search (FTS5 ``vec*``): docs containing any token starting
    with the prefix; StartsWith is sargable so a term-sorted postings
    store range-prunes like FTS5's term B-tree."""
    return search_prefix(_index(spark, sf_dir), "vec").orderBy("doc")


@query(
    "fts_search_folded",
    oracle="""
    WITH acc AS (
      SELECT doc_id, translate(text, 'aeuio', 'áëüйό') AS text FROM documents
    ), postings AS (
      SELECT doc_id AS doc, t.term
      FROM acc,
           unnest(list_filter(
             string_split_regex(strip_accents(lower(text)), '[^\\p{L}\\p{N}_]+'),
             x -> x <> '')) AS t(term)
    )
    SELECT doc
    FROM postings
    WHERE term IN ('spark', 'vectοr')
    GROUP BY doc
    HAVING COUNT(DISTINCT term) = 2
    ORDER BY doc
    """,
    tags=("fts",),
)
def fts_search_folded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode61 diacritic folding (FTS5 default remove_diacritics=1)
    across SCRIPTS: the corpus is accented with Latin (á ë ü), Cyrillic
    (й = и + breve) and Greek (ό = ο + tonos) marks, and accented query
    terms still match — tokenizer and query terms both NFD-fold, with
    the folded base staying in its own script (ό→ο Greek omicron, NOT
    Latin o), mirroring SQLite's unicode61 where "Zürich" and "Zurich"
    hit the same index entry. Oracle folds with DuckDB's strip_accents,
    independently implemented from our translate table — note the
    oracle's 'vectοr' literal carries a Greek omicron for exactly that
    reason."""
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.translate("text", "aeuio", "áëüйό").alias("text")
    )
    idx = build_inverted_index(docs, "doc_id", "text")
    return search_all(idx, ["SPÁRK", "vëctόr"]).orderBy("doc")


_PHRASE_ORACLE = """
    WITH toks AS (
      SELECT doc_id AS doc,
             list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                         x -> x <> '') AS ts
      FROM documents
    ), pos_postings AS (
      SELECT doc, u.s.pos AS pos, u.s.term AS term
      FROM toks,
           unnest(list_transform(ts, (x, i) -> {'term': x, 'pos': i - 1}))
             AS u(s)
    )
    SELECT a.doc, a.pos AS start_pos
    FROM pos_postings a
    JOIN pos_postings b ON a.doc = b.doc AND b.pos = a.pos + 1
    WHERE a.term = 'table' AND b.term = 'hash'
    ORDER BY a.doc, start_pos
    """


@query(
    "fts_phrase",
    oracle=_PHRASE_ORACLE,
    tags=("fts",),
)
def fts_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase search "table hash": consecutive-position adjacency join
    on the positional postings (FTS5 phrase MATCH twin)."""
    return phrase_search(_index(spark, sf_dir), ["table", "hash"]).orderBy(
        "doc", "start_pos"
    )


# Shared by fts_bm25_topk and its persisted-serving twin
# fts_serve_persisted — "results identical to the in-plan twin" IS the
# persisted path's contract, so the certifying SQL is one text.
_BM25_TOPK_ORACLE = f"""
    WITH {_POSTINGS_CTE},
    corpus AS (
      -- docs-direct, NOT postings-derived: n_docs counts EVERY
      -- document (zero-token ones included) and avgdl averages over
      -- non-NULL texts — exactly bm25_from_docs' count-all /
      -- avg-nonnull semantics and the persisted index's stored stats
      -- (round-15 review: the postings-derived form silently loses
      -- zero-token docs).
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             AVG(len(list_filter(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}_]+'),
                                 x -> x <> ''))) AS avgdl
      FROM documents
    ),
    tf AS (
      SELECT term, doc, doc_len, COUNT(*) AS tf
      FROM postings
      WHERE term IN ('spark', 'vector')
      GROUP BY term, doc, doc_len
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc) AS df FROM tf GROUP BY term
    )
    SELECT doc,
           ROUND(SUM(
             ln(1 + (corpus.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * (1.2 + 1.0))
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.doc_len / corpus.avgdl))
           ), 4) AS score
    FROM tf, df, corpus
    WHERE tf.term = df.term
    GROUP BY doc
    ORDER BY score DESC, doc
    LIMIT 20
    """


@query(
    "fts_bm25_topk",
    oracle=_BM25_TOPK_ORACLE,
    tags=("fts",),
)
def fts_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for the query terms; score arithmetic mirrored
    exactly in the oracle (same operation order → same doubles).
    Uses the docs-direct path: corpus stats without a posting explode
    and a containment prefilter before the index build (identical
    scores, measured ~1.6x faster than ranking the full index)."""
    docs = table(spark, sf_dir, "documents")
    ranked = bm25_from_docs(docs, "doc_id", "text", SEARCH_TERMS)
    return (
        ranked.select("doc", F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), "doc")
        .limit(20)
    )


_NEAR_ORACLE = """
    WITH toks AS (
      SELECT doc_id AS doc,
             list_filter(string_split_regex(lower(text), '[^\\p{L}\\p{N}_]+'),
                         x -> x <> '') AS ts
      FROM documents
    ), pos_postings AS (
      SELECT doc, u.s.pos AS pos, u.s.term AS term
      FROM toks,
           unnest(list_transform(ts, (x, i) -> {'term': x, 'pos': i - 1}))
             AS u(s)
    ), pairs AS (
      SELECT a.doc, abs(a.pos - b.pos) AS gap
      FROM pos_postings a
      JOIN pos_postings b ON a.doc = b.doc
      WHERE a.term = 'spark' AND b.term = 'vector'
        AND abs(a.pos - b.pos) BETWEEN 1 AND 6
    )
    SELECT doc, COUNT(*) AS n_pairs,
           CAST(MIN(gap) - 1 AS BIGINT) AS min_between
    FROM pairs
    GROUP BY doc
    ORDER BY doc
    """


@query(
    "fts_near",
    oracle=_NEAR_ORACLE,
    tags=("fts", "near"),
)
def fts_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR(spark vector, 5): proximity MATCH — the last FTS5 MATCH
    grammar feature (after AND/OR/NOT/phrase/prefix), as a positional
    postings join with a gap predicate."""
    return near_search(_index(spark, sf_dir), "spark", "vector", n=5).orderBy(
        "doc"
    )


_HYBRID_RRF_ORACLE = f"""
    WITH {_POSTINGS_CTE},
    corpus AS (
      -- docs-direct, NOT postings-derived: n_docs counts EVERY
      -- document (zero-token ones included) and avgdl averages over
      -- non-NULL texts — exactly bm25_from_docs' count-all /
      -- avg-nonnull semantics and the persisted index's stored stats
      -- (round-15 review: the postings-derived form silently loses
      -- zero-token docs).
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             AVG(len(list_filter(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}_]+'),
                                 x -> x <> ''))) AS avgdl
      FROM documents
    ),
    tf AS (
      SELECT term, doc, doc_len, COUNT(*) AS tf
      FROM postings
      WHERE term IN ('spark', 'vector')
      GROUP BY term, doc, doc_len
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc) AS df FROM tf GROUP BY term
    ),
    bm AS (
      SELECT doc,
             ROUND(SUM(
               ln(1 + (corpus.n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * (1.2 + 1.0))
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.doc_len / corpus.avgdl))
             ), 4) AS score
      FROM tf, df, corpus
      WHERE tf.term = df.term
      GROUP BY doc
    ),
    tlist AS (
      SELECT doc, r AS text_rank FROM (
        SELECT doc, ROW_NUMBER() OVER (ORDER BY score DESC, doc) AS r
        FROM bm)
      WHERE r <= 20
    ),
    qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    ds AS (
      SELECT e.vec_id AS doc,
             ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                          qv.qe::DOUBLE[]), 4) AS sim
      FROM embeddings e, qv
      WHERE e.vec_id <> 0
    ),
    vlist AS (
      SELECT doc, r AS vec_rank FROM (
        SELECT doc, ROW_NUMBER() OVER (ORDER BY sim DESC, doc) AS r
        FROM ds)
      WHERE r <= 20
    ),
    fused AS (
      SELECT COALESCE(t.doc, v.doc) AS doc,
             ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + t.text_rank),
                            CAST(0.0 AS DOUBLE))
                   + COALESCE(CAST(1.0 AS DOUBLE) / (60 + v.vec_rank),
                              CAST(0.0 AS DOUBLE)), 6) AS rrf,
             t.text_rank, v.vec_rank
      FROM tlist t FULL OUTER JOIN vlist v ON t.doc = v.doc
    )
    SELECT doc, rrf, text_rank, vec_rank
    FROM fused ORDER BY rrf DESC, doc LIMIT 10
    """


@query(
    "fts_hybrid_rrf_topk",
    oracle=_HYBRID_RRF_ORACLE,
    tags=("fts", "similarity", "hybrid", "rrf"),
)
def fts_hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical list + dense cosine list fused by
    reciprocal-rank fusion (RRF, Cormack et al. 2009: score =
    Σ 1/(k + rank), k = 60) — the composition a RAG/retrieval data
    pipeline runs over exactly the two engines this repo certifies
    separately (S4 FTS index + the ANN family). One hybrid query:
    SEARCH_TERMS on the text side, doc 0's embedding on the dense side
    (embeddings.vec_id IS documents.doc_id — the catalog contract).

    Scale shape: the BM25 list is the certified docs-direct scoring
    pass ending in a global top-20 via TakeOrderedAndProject (20 rows
    cross the wire, never a global sort); the dense list is ONE corpus
    pass against a broadcast query vector with the same top-20 shape;
    ranks are assigned by a window over the ≤20-row survivors and the
    fusion is a full-outer join of two ≤20-row frames — driver-scale,
    corpus-independent. Both lists rank on ROUNDED scores with doc-id
    tiebreaks so cross-engine float noise cannot reorder (the
    sim_ann_brute discipline); RRF sums exactly two correctly-rounded
    double terms, so the fused score is bit-identical in DuckDB."""
    docs = table(spark, sf_dir, "documents")
    bm = bm25_from_docs(docs, "doc_id", "text", SEARCH_TERMS).select(
        "doc", F.round("score", 4).alias("score")
    )
    return _hybrid_rrf_fuse(spark, sf_dir, bm)


def _hybrid_rrf_fuse(
    spark: SparkSession, sf_dir: str, bm: DataFrame
) -> DataFrame:
    """The fusion tail shared by the in-plan and persisted hybrids:
    ``bm`` is any (doc, score) BM25 frame with 4-rounded scores — the
    two paths produce identical frames, so one tail certifies both."""
    from wikid_spark.functions.vectors import cosine_similarity

    emb = table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe")
    )
    ds = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc"),
            F.round(
                cosine_similarity(F.col("embedding"), F.col("qe")), 4
            ).alias("sim"),
        )
    )
    return rrf_fuse_frames(bm, ds)


def rrf_fuse_frames(bm: DataFrame, ds: DataFrame) -> DataFrame:
    """RRF-fuse any (doc, score) BM25 frame with any (doc, sim) dense
    frame (both pre-rounded to 4dp so cross-engine float noise cannot
    reorder the rank windows) — the frame-level tail every hybrid
    serving path shares: in-plan, persisted-index, and the evolving
    streaming indexes (`streaming.hybrid.hybrid_rrf_streaming`)."""
    from pyspark.sql import Window

    top_t = bm.orderBy(F.desc("score"), "doc").limit(20)
    wt = Window.orderBy(F.desc("score"), "doc")  # 20 rows: rank locally
    tlist = top_t.select(
        "doc", F.row_number().over(wt).alias("text_rank")
    )
    top_v = ds.orderBy(F.desc("sim"), "doc").limit(20)
    wv = Window.orderBy(F.desc("sim"), "doc")
    vlist = top_v.select("doc", F.row_number().over(wv).alias("vec_rank"))

    # fusion as union + hash-agg, not a full-outer join: Spark plans
    # full outer as SortMergeJoin even for 20-row sides; the union agg
    # is join-free (one ≤40-row HashAggregate). Sum order is
    # immaterial: at most two double terms per doc, and float addition
    # of two terms is commutative bit-for-bit.
    one = F.lit(1.0)
    tl = tlist.select(
        "doc",
        (one / (F.lit(60) + F.col("text_rank"))).alias("contrib"),
        "text_rank",
        F.lit(None).cast("int").alias("vec_rank"),
    )
    vl = vlist.select(
        "doc",
        (one / (F.lit(60) + F.col("vec_rank"))).alias("contrib"),
        F.lit(None).cast("int").alias("text_rank"),
        "vec_rank",
    )
    fused = (
        tl.unionByName(vl)
        .groupBy("doc")
        .agg(
            F.round(F.sum("contrib"), 6).alias("rrf"),
            F.max("text_rank").alias("text_rank"),
            F.max("vec_rank").alias("vec_rank"),
        )
    )
    return fused.select("doc", "rrf", "text_rank", "vec_rank").orderBy(
        F.desc("rrf"), "doc"
    ).limit(10)


_HYBRID_MULTI_ORACLE = f"""
    WITH {_POSTINGS_CTE},
    anchors AS (
      SELECT vec_id AS query_id, embedding AS qe
      FROM embeddings WHERE {_QUERY_SAMPLE_SQL}
    ),
    corpus AS (
      -- docs-direct, NOT postings-derived: n_docs counts EVERY
      -- document (zero-token ones included) and avgdl averages over
      -- non-NULL texts — exactly bm25_from_docs' count-all /
      -- avg-nonnull semantics and the persisted index's stored stats
      -- (round-15 review: the postings-derived form silently loses
      -- zero-token docs).
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             AVG(len(list_filter(string_split_regex(lower(text), '[^\\p{{L}}\\p{{N}}_]+'),
                                 x -> x <> ''))) AS avgdl
      FROM documents
    ),
    aterms AS (
      SELECT DISTINCT a.query_id, p.term
      FROM anchors a JOIN postings p ON p.doc = a.query_id
    ),
    tf AS (
      SELECT term, doc, doc_len, COUNT(*) AS tf
      FROM postings
      WHERE term IN (SELECT term FROM aterms)
      GROUP BY term, doc, doc_len
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc) AS df FROM tf GROUP BY term
    ),
    bm AS (
      SELECT at.query_id, tf.doc,
             SUM(CAST(ROUND(
               ln(1 + (corpus.n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * (1.2 + 1.0))
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.doc_len / corpus.avgdl))
               * 1000000.0
             ) AS BIGINT)) AS score_q6
      FROM aterms at
      JOIN tf ON tf.term = at.term
      JOIN df ON df.term = at.term, corpus
      WHERE tf.doc <> at.query_id
      GROUP BY at.query_id, tf.doc
    ),
    tlist AS (
      SELECT query_id, doc, r AS text_rank FROM (
        SELECT query_id, doc,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score_q6 DESC, doc) AS r
        FROM bm)
      WHERE r <= 20
    ),
    ds AS (
      SELECT a.query_id, e.vec_id AS doc,
             ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                          a.qe::DOUBLE[]), 4) AS sim
      FROM embeddings e, anchors a
      WHERE e.vec_id <> a.query_id
    ),
    vlist AS (
      SELECT query_id, doc, r AS vec_rank FROM (
        SELECT query_id, doc,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, doc) AS r
        FROM ds)
      WHERE r <= 20
    ),
    fused AS (
      SELECT COALESCE(t.query_id, v.query_id) AS query_id,
             COALESCE(t.doc, v.doc) AS doc,
             ROUND(COALESCE(CAST(1.0 AS DOUBLE) / (60 + t.text_rank),
                            CAST(0.0 AS DOUBLE))
                   + COALESCE(CAST(1.0 AS DOUBLE) / (60 + v.vec_rank),
                              CAST(0.0 AS DOUBLE)), 6) AS rrf,
             t.text_rank, v.vec_rank
      FROM tlist t
      FULL OUTER JOIN vlist v
        ON t.query_id = v.query_id AND t.doc = v.doc
    )
    SELECT query_id, doc, rrf, text_rank, vec_rank, rn
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY rrf DESC, doc) AS rn
      FROM fused)
    WHERE rn <= 10
    ORDER BY query_id, rn
    """


# Target size of the deterministic corpus sample that augments the
# impact-prefix docs when seeding exact max-score floors (see
# _multi_anchor_bm): 20th-best of an m-doc exact-scored sample floors
# at ≈ the corpus's k/m quantile, so survivors are ~n·20/4096 ≈ 0.5%
# of the corpus per anchor while the collect stays O(m), never O(n).
_FLOOR_SAMPLE = 4096


def _anchor_floors(
    anchor_terms: dict[int, set[int]],
    seed_tc: dict[int, list[tuple[int, int]]],
    k: int = 20,
) -> dict[int, int | None]:
    """Per-anchor max-score floor: a SOUND lower bound on the anchor's
    k-th best exact score_q6 (self excluded), from the EXACT scores of
    the seed docs (the union of the impact-ordered per-term prefixes —
    the docs most likely to populate every anchor's true top-k).
    ``seed_tc`` maps seed doc → its full (term_index, c_q6) rows over
    the anchor-term union, so each seed's per-anchor score here is the
    identical exact long the distributed kernel computes; the k-th
    best over any candidate subset is ≤ the k-th best overall, so
    pruning strictly below the floor can never evict a true top-k doc.
    An earlier draft floored on prefix PARTIAL sums instead — sound
    but measured far too loose on the closed-vocab corpus (score
    distributions are tight; partials sit at ~30% of true scores and
    pruned ~1%). Returns None (no floor → no pruning) for anchors with
    fewer than k seed docs sharing ≥1 term.

    Term axis: ``anchor_terms`` values and ``seed_tc`` term indexes
    must refer to one shared term→index mapping (the caller's
    union-term order)."""
    import numpy as np

    floors: dict[int, int | None] = {a: None for a in anchor_terms}
    if not seed_tc or not anchor_terms:
        return floors
    docs = sorted(seed_tc)
    n_terms = 1 + max(
        (ti for tc in seed_tc.values() for ti, _ in tc), default=-1
    )
    for terms in anchor_terms.values():
        n_terms = max(n_terms, 1 + max(terms, default=-1))
    if n_terms == 0:
        return floors
    V = np.zeros((len(docs), n_terms), dtype=np.float64)
    P = np.zeros((len(docs), n_terms), dtype=np.float64)
    for i, d in enumerate(docs):
        for ti, c in seed_tc[d]:
            V[i, ti] = float(c)
            P[i, ti] = 1.0  # c_q6 == 0 rows still mark overlap
    anchors = sorted(anchor_terms)
    A = np.zeros((len(anchors), n_terms), dtype=np.float64)
    for j, a in enumerate(anchors):
        for ti in anchor_terms[a]:
            A[j, ti] = 1.0
    S = V @ A.T  # exact integers in float64 (< 2^53, kernel argument)
    M = P @ A.T
    doc_arr = np.array(docs, dtype=np.int64)
    for j, a in enumerate(anchors):
        mask = (M[:, j] > 0) & (doc_arr != a)
        sc = np.sort(S[mask, j])[::-1]
        if len(sc) >= k:
            floors[a] = int(sc[k - 1])
    return floors


def _multi_anchor_bm(
    spark: SparkSession,
    sf_dir: str,
    persisted: bool = False,
    prune: bool = True,
) -> DataFrame:
    """The multi-anchor BM25 frame ``(query_id, doc, score_q6)`` both
    hybrid-multi variants rank: per sampled anchor (`_QUERY_SAMPLE_SQL`),
    the quantized more-like-this score of every surviving candidate doc
    (self already excluded). ``persisted`` serves tf/df/stats AND the
    max-score state from the on-disk FTS index (one bucket-pruned
    postings probe, zero corpus tokenizes); the in-plan path rebuilds
    them from the corpus (one tokenize, localCheckpointed so the floor
    seeding doesn't re-execute it).

    Numeric discipline (unchanged from round 15): each (term, doc)
    BM25 contribution is quantized to integer millionths and per-anchor
    scores are exact Σ of those longs via one float64-BLAS matmul
    (every operand and partial sum < 2^53, so float64 stays exact).

    Max-score/WAND pruning (round 16, VERDICT r15 #1 — the one MATCH
    optimization FTS5's planner applies that this path brute-forced):

    * floors — per anchor, θ_a lower-bounds the true 20th-best score
      from the EXACT scores of a bounded seed set — a deterministic
      hash-mod corpus sample plus, on the persisted path, the index's
      topc/ impact-prefix docs (`_anchor_floors`; exact seed scores,
      so θ_a ≤ the true 20th-best by the subset argument);
    * doc-level — a doc whose Σ ub(t) over ALL its matched union terms
      is below min_a θ_a cannot reach ANY anchor's top-20 (per-anchor
      matched subsets only shrink that sum): dropped before the matmul;
    * pair-level — computed exact scores below θ_a are not emitted
      (the true top-20 all score ≥ true-20th ≥ θ_a), so the rank-window
      shuffle sees the handful of floor-beating candidates instead of
      ~corpus×anchors rows on a closed-vocabulary corpus.

    All three steps are droppable-only-below-a-lower-bound, so the
    per-anchor top-20 — the only thing the fusion tail reads — is
    IDENTICAL to the unpruned r15 computation (``prune=False`` keeps
    that path runnable; tests pin equality and the candidate-row
    reduction). Anchors with fewer than 20 prefix docs get no floor and
    prune nothing.
    """
    from wikid_spark.operators.fts import bm25_contrib
    from wikid_spark.queries.similarity import _sample_filter

    docs = table(spark, sf_dir, "documents")
    emb = table(spark, sf_dir, "embeddings")
    k1, b = 1.2, 0.75
    _BM_SCHEMA = "query_id bigint, doc bigint, score_q6 bigint"

    anchors = _sample_filter(emb).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    # Anchor query terms: the anchor document's distinct tokens —
    # tokenize ONLY the (broadcast-joined) anchor documents, never the
    # corpus (round-15 review #2: deriving aterms from the full
    # postings tokenized the corpus once at the driver collect and
    # AGAIN in the in-plan semi-join subtree).
    adocs = docs.join(
        F.broadcast(anchors.select("query_id")),
        docs["doc_id"] == F.col("query_id"),
    ).select("query_id", "text")
    aterms = (
        build_inverted_index(adocs, "query_id", "text")
        .select(F.col("doc").alias("query_id"), "term")
        .distinct()
    )
    a_rows = aterms.collect()  # k-bounded collect (anchors x per-doc vocab)
    anchor_ids = sorted({r["query_id"] for r in a_rows})
    union_terms = sorted({r["term"] for r in a_rows})
    if not anchor_ids or not union_terms:
        # Degenerate/tiny corpus: no anchor docs or all-empty anchor
        # texts (ADVICE r15: the kernel's membership matrix would be
        # 1-D here and crash inside the Arrow task). The dense side of
        # the fusion is unaffected by an empty lexical frame.
        return spark.createDataFrame([], _BM_SCHEMA)

    def _quantized_contrib(tf, dfreq, stats):
        """(term, doc, c_q6): the per-(term, doc) BM25 contribution
        quantized to exact integer millionths BEFORE anchor expansion
        — ONE implementation for the persisted and in-plan branches
        (round-16 review: two hand-copies of the quantize tail could
        silently drift the value identity the shared oracle
        certifies)."""
        return (
            tf.join(F.broadcast(dfreq), "term")
            .crossJoin(F.broadcast(stats))
            .withColumn(
                "c_q6",
                F.round(bm25_contrib(k1, b) * F.lit(1000000.0), 0).cast(
                    "long"
                ),
            )
            .select("term", "doc", "c_q6")
        )

    ub_by_term: dict[str, int]
    seed_ids: set[int] = set()  # impact-prefix docs → exact-floor seeds
    if persisted:
        from wikid_spark.operators.fts import (
            ensure_fts_index,
            fts_impact_prefix,
            fts_persisted_postings,
            fts_termstats,
        )

        idx = ensure_fts_index(spark, sf_dir)
        stats = spark.read.parquet(f"{idx}/stats")
        ts_rows = fts_termstats(spark, idx, union_terms).collect()  # k-bounded collect (|query terms| rows)
        dfreq = spark.createDataFrame(
            [(r["term"], r["df"]) for r in ts_rows], "term string, df bigint"
        )
        ub_by_term = {r["term"]: r["ub_q6"] for r in ts_rows}
        if prune:
            seed_ids = {
                r["doc"]
                for r in fts_impact_prefix(spark, idx, union_terms).collect()  # k-bounded collect (<=32*|terms| rows)
            }
        tf = (
            fts_persisted_postings(spark, idx, union_terms)
            .groupBy("term", "doc", "doc_len")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        tfc = _quantized_contrib(tf, dfreq, stats)
        if prune:
            # The exact-floor seeding reads tfc a second time (the
            # seed docs' full rows); checkpoint so the postings probe
            # runs once. Still corpus-independent: the probe is
            # ~Σ_t df(t) rows over the pruned buckets.
            tfc = tfc.localCheckpoint(eager=True)
    else:
        toks = tokenize("text")
        stats = docs.select(F.size(toks).alias("_dl")).agg(
            F.count(F.lit(1)).cast("double").alias("n_docs"),
            F.avg("_dl").alias("avgdl"),
        )
        postings = build_inverted_index(docs, "doc_id", "text")
        # One full-corpus tokenize total: the union terms are already
        # on the driver, so tf filters with a pushable isin instead of
        # a semi-join that would re-execute a second corpus-wide
        # subtree.
        tf = (
            postings.filter(F.col("term").isin(union_terms))
            .groupBy("term", "doc", "doc_len")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        df_ = tf.groupBy("term").agg(F.count_distinct("doc").alias("df"))
        # Quantize the contribution per (term, doc) BEFORE the anchor
        # expansion: the BM25 term is anchor-independent (the round-15
        # 270 s -> 16 s sf10 rewrite).
        tfc = _quantized_contrib(tf, df_, stats)
        ub_by_term = {}
        if prune:
            # The floor seeding needs two more passes over tfc (the
            # per-term ub maxima, then the seed docs' full rows);
            # checkpoint so the corpus tokenize + postings shuffle run
            # ONCE, not once per consumer. ub comes from a map-side-
            # combined groupBy-max, NOT a per-term rank window — with
            # a closed vocabulary partitionBy(term) degenerates to
            # |vocab| skewed single-task groups; and the prefix DOCS
            # a window would surface add nothing here, because the
            # in-plan seeds come from the hash-mod sample below (the
            # persisted path reads its prefix docs for free from
            # topc/).
            tfc = tfc.localCheckpoint(eager=True)
            ub_by_term = {
                r["term"]: r["mx"]
                for r in tfc.groupBy("term")
                .agg(F.max("c_q6").alias("mx"))
                .collect()  # k-bounded collect (|query terms| rows)
            }

    q_ix = {q: i for i, q in enumerate(anchor_ids)}
    t_ix = {t: i for i, t in enumerate(union_terms)}
    anchor_term_ix: dict[int, set[int]] = {int(a): set() for a in anchor_ids}
    for r in a_rows:
        anchor_term_ix[int(r["query_id"])].add(t_ix[r["term"]])
    floors: dict[int, int | None] = {int(a): None for a in anchor_ids}
    if prune:
        # Exact floors: collect the seed docs' full contribution rows
        # and score them against every anchor driver-side with the
        # same exact-int64 arithmetic the kernel uses. Seeds are the
        # impact-prefix docs PLUS a deterministic ~_FLOOR_SAMPLE-doc
        # hash-mod sample of the corpus: on the closed-vocab corpus
        # scores are sums of ~20 near-equal contributions, so
        # single-term champions are NOT top-by-sum — prefix-only
        # floors measured 44% of sf10 docs surviving, while the 20th
        # best of a 4k exact-scored sample floors at ≈ the corpus's
        # top-20/4096 quantile (survivors ~ n·20/4096 per anchor,
        # corpus-fraction-bounded). Both seed families stay O(1)-sized
        # as the corpus grows; both are exact scores, so the floor
        # stays a sound lower bound on the true 20th-best.
        from wikid_spark.catalog import corpus_rows

        mod = max(1, corpus_rows(sf_dir, "documents") // _FLOOR_SAMPLE)
        seed_cond = F.pmod(F.xxhash64(F.col("doc")), F.lit(mod)) == 0
        if seed_ids:
            seed_cond = seed_cond | F.col("doc").isin(sorted(seed_ids))
        seed_tc: dict[int, list[tuple[int, int]]] = {}
        for r in tfc.filter(seed_cond).collect():  # k-bounded collect (hash-mod sample + prefix seeds)
            seed_tc.setdefault(r["doc"], []).append(
                (t_ix[r["term"]], r["c_q6"])
            )
        floors = _anchor_floors(anchor_term_ix, seed_tc)

    a_member = [[0] * len(union_terms) for _ in anchor_ids]
    for r in a_rows:
        a_member[q_ix[r["query_id"]]][t_ix[r["term"]]] = 1
    terms_arr = list(union_terms)
    anchors_arr = [int(q) for q in anchor_ids]
    neg_inf = float("-inf")
    theta_vals = [
        neg_inf if floors.get(int(q)) is None else float(floors[int(q)])
        for q in anchor_ids
    ]
    ub_vals = [float(ub_by_term.get(t, 0)) for t in terms_arr]

    doc_tc = tfc.groupBy("doc").agg(
        F.collect_list(F.struct("term", "c_q6")).alias("tc")
    )

    def score_batches(batches):
        import numpy as np
        import pandas as pd

        # float64, not int64: (a) numpy integer matmul never dispatches
        # to BLAS — float64 does; (b) it stays EXACT here, because every
        # operand is an exact integer and every partial sum is bounded
        # by T_max x c_max ~ 4e5 x 6.2e7 = 2.5e13 << 2^53, so each
        # product and each accumulation is an exactly-representable
        # integer (the quantize_embedding exactness argument). The same
        # argument makes the floor comparisons below EXACT.
        A = np.array(a_member, dtype=np.float64)  # anchors x T
        tix = {t: i for i, t in enumerate(terms_arr)}
        qs = np.array(anchors_arr, dtype=np.int64)
        theta = np.array(theta_vals, dtype=np.float64)  # -inf = no floor
        ub_arr = np.array(ub_vals, dtype=np.float64)
        theta_min = float(theta.min()) if len(theta) else float("-inf")
        T = max(A.shape[1], 1)
        # Bound the dense scatter to ~64 MB per matrix: with an OPEN
        # vocabulary the anchor-term union T can reach 10^5, and an
        # Arrow batch of 10k rows would otherwise allocate n x T x 8 B
        # = multi-GB per task (round-15 review #1). Rows per sub-batch
        # shrink as T grows; the matmul cost is unchanged, only the
        # peak allocation is.
        sub = max(1, (8 << 20) // T)
        for pdf in batches:
            for lo in range(0, len(pdf), sub):
                chunk = pdf.iloc[lo : lo + sub]
                n = len(chunk)
                if n == 0:
                    continue
                lens = np.fromiter(
                    (len(x) for x in chunk["tc"]), dtype=np.int64
                )
                rows = np.repeat(np.arange(n), lens)
                cols = np.fromiter(
                    (tix[e["term"]] for lst in chunk["tc"] for e in lst),
                    dtype=np.int64,
                )
                vals = np.fromiter(
                    (e["c_q6"] for lst in chunk["tc"] for e in lst),
                    dtype=np.float64,
                )
                P = np.zeros((n, A.shape[1]), dtype=np.float64)
                P[rows, cols] = 1.0
                docs_np = chunk["doc"].to_numpy(dtype=np.int64)
                if theta_min > float("-inf"):
                    # Doc-level max-score prune: Σ ub over the doc's
                    # matched union terms upper-bounds EVERY anchor's
                    # score for it; below the weakest floor it can make
                    # no top-20 — skip its matmul rows entirely.
                    keep = (P @ ub_arr) >= theta_min
                    if not keep.any():
                        continue
                    if not keep.all():
                        P = P[keep]
                        docs_np = docs_np[keep]
                        row_keep = keep[rows]
                        old_rows = rows[row_keep]
                        remap = np.cumsum(keep) - 1
                        rows = remap[old_rows]
                        cols = cols[row_keep]
                        vals = vals[row_keep]
                        n = int(keep.sum())
                V = np.zeros((n, A.shape[1]), dtype=np.float64)
                V[rows, cols] = vals
                S = V @ A.T  # n x anchors — exact integers in float64
                M = P @ A.T
                di, qi = np.nonzero(M)
                if len(di) and theta_min > float("-inf"):
                    # Pair-level prune on the EXACT score (tighter than
                    # any upper bound, already computed): the true
                    # top-20 all score >= true-20th >= θ_a, so rows
                    # below θ_a never reach a rank <= 20.
                    pmask = S[di, qi] >= theta[qi]
                    di, qi = di[pmask], qi[pmask]
                yield pd.DataFrame(
                    {
                        "query_id": qs[qi],
                        "doc": docs_np[di],
                        "score_q6": S[di, qi].astype(np.int64),
                    }
                )

    return doc_tc.mapInPandas(score_batches, _BM_SCHEMA).filter(
        F.col("doc") != F.col("query_id")
    )


def _hybrid_rrf_fuse_multi(
    spark: SparkSession, sf_dir: str, bm: DataFrame
) -> DataFrame:
    """The multi-anchor fusion tail shared by the in-plan and persisted
    hybrids (the single-anchor `_hybrid_rrf_fuse` discipline): per-
    anchor text/vector top-20 ranks, RRF(k=60), top-10 per anchor.
    ``bm`` is any (query_id, doc, score_q6) frame whose per-anchor
    top-20 equals the exact computation — both variants produce that,
    so one tail and one certifying oracle serve both."""
    from pyspark.sql import Window

    from wikid_spark.functions.vectors import cosine_similarity
    from wikid_spark.queries.similarity import _sample_filter

    emb = table(spark, sf_dir, "embeddings")
    anchors = _sample_filter(emb).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    wt = Window.partitionBy("query_id").orderBy(F.desc("score_q6"), "doc")
    tlist = (
        bm.withColumn("text_rank", F.row_number().over(wt))
        .filter(F.col("text_rank") <= 20)
        .select("query_id", "doc", "text_rank")
    )

    ds = (
        emb.crossJoin(F.broadcast(anchors))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc"),
            F.round(
                cosine_similarity(F.col("embedding"), F.col("qe")), 4
            ).alias("sim"),
        )
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("sim"), "doc")
    vlist = (
        ds.withColumn("vec_rank", F.row_number().over(wv))
        .filter(F.col("vec_rank") <= 20)
        .select("query_id", "doc", "vec_rank")
    )

    one = F.lit(1.0)
    tl = tlist.select(
        "query_id",
        "doc",
        (one / (F.lit(60) + F.col("text_rank"))).alias("contrib"),
        "text_rank",
        F.lit(None).cast("int").alias("vec_rank"),
    )
    vl = vlist.select(
        "query_id",
        "doc",
        (one / (F.lit(60) + F.col("vec_rank"))).alias("contrib"),
        F.lit(None).cast("int").alias("text_rank"),
        "vec_rank",
    )
    fused = (
        tl.unionByName(vl)
        .groupBy("query_id", "doc")
        .agg(
            F.round(F.sum("contrib"), 6).alias("rrf"),
            F.max("text_rank").alias("text_rank"),
            F.max("vec_rank").alias("vec_rank"),
        )
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf"), "doc")
    return (
        fused.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") <= 10)
        .select("query_id", "doc", "rrf", "text_rank", "vec_rank", "rn")
        .orderBy("query_id", "rn")
    )


@query(
    "fts_hybrid_rrf_multi",
    oracle=_HYBRID_MULTI_ORACLE,
    tags=("fts", "similarity", "hybrid", "rrf", "multi-anchor"),
)
def fts_hybrid_rrf_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_hybrid_rrf_topk` generalized to the ANN family's sampled
    anchor set — the batched retrieval a RAG/contrastive pipeline runs.
    Round 16 adds max-score/WAND pruning (see `_multi_anchor_bm`): on
    the closed-vocabulary corpus where every doc used to be a candidate
    for every anchor, only docs whose exact score beats the anchor's
    seeded top-20 floor reach the rank shuffle — value-identical by
    the lower-bound argument, certified by the unchanged oracle."""
    bm = _multi_anchor_bm(spark, sf_dir, persisted=False, prune=True)
    return _hybrid_rrf_fuse_multi(spark, sf_dir, bm)


@query(
    "fts_hybrid_rrf_multi_persisted",
    oracle=_HYBRID_MULTI_ORACLE,
    tags=(
        "fts", "similarity", "hybrid", "rrf", "multi-anchor",
        "persisted", "serving",
    ),
)
def fts_hybrid_rrf_multi_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The multi-anchor hybrid served from the PERSISTED FTS index
    (VERDICT r15 #2): tf from one bucket-pruned postings probe, df and
    the max-score upper bounds from termstats, the top-20 floors from
    the persisted impact-ordered topc/ prefixes, corpus stats from the
    1-row stats table — ZERO corpus tokenizes at serve time (the
    in-plan twin still pays one). Value-identical to the in-plan twin
    (same tf/df/stats values, same quantized arithmetic, same pruning
    lower bounds), so the certifying oracle is the same SQL text."""
    bm = _multi_anchor_bm(spark, sf_dir, persisted=True, prune=True)
    return _hybrid_rrf_fuse_multi(spark, sf_dir, bm)


@query(
    "fts_serve_persisted",
    oracle=_BM25_TOPK_ORACLE,
    tags=("fts", "bm25", "persisted", "serving"),
)
def fts_serve_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_bm25_topk` served from the PERSISTED postings index
    (VERDICT r14 #3 — the lexical engine gets the same
    build-once/serve-many treatment the LSH and vector indexes have):
    `ensure_fts_index` builds/reuses the content-keyed on-disk index —
    term-bucket-partitioned postings + per-term df + corpus stats —
    and the serve reads ONLY the query terms' bucket directories
    (PartitionFilters, plan-tested) with the term predicate row-group
    pruned by the build-time term sort. Results are identical to the
    in-plan twin — same tf/df/stats values, same arithmetic order —
    so the certifying oracle is the same SQL text.

    Scale: in-plan BM25 tokenizes the corpus per query; this serve
    reads ~Σ_t df(t) postings rows plus two tiny side tables at ANY
    corpus size — the IO-bounded serving shape
    sim_ivfpq8_serve_persisted pinned for vectors."""
    from wikid_spark.operators.fts import bm25_persisted, ensure_fts_index

    index_dir = ensure_fts_index(spark, sf_dir)
    ranked = bm25_persisted(spark, index_dir, SEARCH_TERMS)
    return (
        ranked.select("doc", F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), "doc")
        .limit(20)
    )


@query(
    "fts_hybrid_rrf_persisted",
    oracle=_HYBRID_RRF_ORACLE,
    tags=("fts", "similarity", "hybrid", "rrf", "persisted", "serving"),
)
def fts_hybrid_rrf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`fts_hybrid_rrf_topk` with the lexical list served from the
    persisted FTS index (the production hybrid: BOTH engines now serve
    from prebuilt artifacts — the dense side's persisted twin is
    sim_ivfpq8_serve_persisted). The BM25 frame is value-identical to
    the in-plan path's, so the fusion tail and the certifying oracle
    are shared verbatim."""
    from wikid_spark.operators.fts import bm25_persisted, ensure_fts_index

    index_dir = ensure_fts_index(spark, sf_dir)
    bm = bm25_persisted(spark, index_dir, SEARCH_TERMS).select(
        "doc", F.round("score", 4).alias("score")
    )
    return _hybrid_rrf_fuse(spark, sf_dir, bm)


@query(
    "fts_phrase_persisted",
    oracle=_PHRASE_ORACLE,
    tags=("fts", "persisted", "serving"),
)
def fts_phrase_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase MATCH served from the persisted index: the postings
    already carry positions, and `phrase_search` takes any postings
    frame — so the persisted probe (bucket-pruned to the phrase's
    terms) drops straight in. Same oracle as the in-plan twin: the
    probed slice contains every posting of the query terms, which is
    all the adjacency join reads either way."""
    from wikid_spark.operators.fts import (
        ensure_fts_index,
        fts_persisted_postings,
    )

    terms = ["table", "hash"]
    idx = ensure_fts_index(spark, sf_dir)
    return phrase_search(
        fts_persisted_postings(spark, idx, terms), terms
    ).orderBy("doc", "start_pos")


@query(
    "fts_near_persisted",
    oracle=_NEAR_ORACLE,
    tags=("fts", "near", "persisted", "serving"),
)
def fts_near_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR(spark vector, 5) served from the persisted index — the
    positional-postings proximity join over the bucket-pruned probe
    slice (see fts_phrase_persisted). With BM25, phrase and NEAR
    persisted, every S4 MATCH feature the reference's FTS5 tables
    answer from their B-tree is served from the on-disk index here;
    prefix MATCH stays in-plan by design (a hash-bucketed layout
    cannot directory-prune a range — the term-sorted row groups
    inside every bucket still min/max-prune a pushed StartsWith)."""
    from wikid_spark.operators.fts import (
        ensure_fts_index,
        fts_persisted_postings,
    )

    idx = ensure_fts_index(spark, sf_dir)
    return near_search(
        fts_persisted_postings(spark, idx, ["spark", "vector"]),
        "spark",
        "vector",
        n=5,
    ).orderBy("doc")


@query(
    "fts_serve_streaming",
    oracle=_BM25_TOPK_ORACLE,
    tags=("fts", "bm25", "streaming", "serving"),
)
def fts_serve_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served from the EVOLVING (streaming-maintained) FTS index
    — the round-15 `streaming.fts_ingest` layout given a registered
    driver-green row, the way sim_ivfpq8_serve_persisted certifies the
    persisted ANN layout. The corpus is ingested as it would arrive in
    production: a base build over one third of the documents
    (doc_id % 3 == 0) plus two appended micro-batches (% 3 == 1, 2 —
    disjoint ids, the append-only contract), then a crash-safe
    COMPACTION folds the deltas; the serve reads the folded index.
    Because the final document set is the whole table, the result is
    value-identical to `fts_bm25_topk` and the certifying oracle is
    the same SQL text — so one hash-green row certifies the streaming
    build, the additive df/stat decompositions, the compaction fold,
    AND the bucket-pruned serve end-to-end. Content-keyed cached like
    every index build (a regenerated corpus rebuilds)."""
    import hashlib
    import os

    from wikid_spark.catalog import corpus_fingerprint, ensure_cached_build
    from wikid_spark.operators.fts import _FTS_LAYOUT_GEN, _FTS_OK
    from wikid_spark.streaming import fts_ingest as FI

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    fp = corpus_fingerprint(sf_dir, "documents")
    # Fold the layout generation into the key (the ensure_fts_index
    # discipline): a slot written under an older on-disk layout
    # rebuilds instead of serving.
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{fp}|stream|{_FTS_LAYOUT_GEN}".encode()
    ).hexdigest()[:16]
    # pmod + NULL-coalesce make the three-way split TOTAL: Spark %
    # keeps the dividend's sign (a doc_id = -1 row would land in NO
    # residue class) and NULL % 3 is NULL — either silently shrinks
    # the indexed set and shifts every BM25 stat off the oracle's.
    residue = F.coalesce(F.pmod(F.col("doc_id"), F.lit(3)), F.lit(0))

    def build(d: str) -> None:
        FI.persist_streaming_fts_index(docs.filter(residue == 0), d)
        FI.append_docs_to_fts_index(docs.filter(residue == 1), d, 0)
        FI.append_docs_to_fts_index(docs.filter(residue == 2), d, 1)
        FI.compact_streaming_fts_index(spark, d)
        _fs_write_text(spark, f"{d}/{_FTS_OK}")

    idx = ensure_cached_build("wikid_fts_stream_index", key, build, _FTS_OK)
    ranked = FI.bm25_streaming(spark, idx, SEARCH_TERMS)
    return (
        ranked.select("doc", F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), "doc")
        .limit(20)
    )


@query(
    "fts_hybrid_serve_streaming",
    oracle=_HYBRID_RRF_ORACLE,
    tags=("fts", "similarity", "hybrid", "rrf", "streaming", "serving"),
)
def fts_hybrid_serve_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid RRF served from BOTH evolving streaming indexes
    (`streaming.hybrid.hybrid_rrf_streaming`, round 16) — the
    registered driver-green row for the three-index production shape
    the round-16 soak composes. Both the FTS index and the vector
    index are ingested as they would arrive in production: base builds
    over one third of each table (pmod(id, 3) == 0), two appended
    micro-batches (disjoint ids — the append-only contract), a
    crash-safe compaction folding each index's deltas; the serve reads
    the folded trees. The final indexed sets are the whole tables, so
    the result is value-identical to `fts_hybrid_rrf_topk` and the
    certifying oracle is the same SQL text — one hash-green row
    certifies both evolving builds, both additive decompositions
    (df/stat partials; cell assignments against frozen centroids),
    both compaction folds, and the fused serve end-to-end.

    Scale: the lexical serve is bucket-pruned across base + deltas;
    the dense serve is the documented exact pass over the evolving
    index's original vectors (swap for the persisted ANN serve at
    corpus scale — the fusion tail is shared either way)."""
    import hashlib
    import os

    from wikid_spark.catalog import corpus_fingerprint, ensure_cached_build
    from wikid_spark.operators.fts import _FTS_LAYOUT_GEN
    from wikid_spark.streaming import fts_ingest as FI, vector_ingest as vi
    from wikid_spark.streaming.hybrid import hybrid_rrf_streaming

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    vecs = table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    fp_d = corpus_fingerprint(sf_dir, "documents")
    fp_e = corpus_fingerprint(sf_dir, "embeddings")
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{fp_d}|{fp_e}|hystream|"
        f"{_FTS_LAYOUT_GEN}".encode()
    ).hexdigest()[:16]
    dres = F.coalesce(F.pmod(F.col("doc_id"), F.lit(3)), F.lit(0))
    vres = F.coalesce(F.pmod(F.col("vec_id"), F.lit(3)), F.lit(0))

    def build(d: str) -> None:
        FI.persist_streaming_fts_index(docs.filter(dres == 0), f"{d}/fts")
        FI.append_docs_to_fts_index(docs.filter(dres == 1), f"{d}/fts", 0)
        FI.append_docs_to_fts_index(docs.filter(dres == 2), f"{d}/fts", 1)
        FI.compact_streaming_fts_index(spark, f"{d}/fts")
        base = vecs.filter(vres == 0)
        vi.persist_vector_index(base, f"{d}/vec")
        for bid, res in ((0, 1), (1, 2)):
            batch = vecs.filter(vres == res)
            vi.append_kept_to_vector_index(
                batch, batch.select("vec_id"), f"{d}/vec", bid
            )
        vi.compact_vector_index(spark, f"{d}/vec")
        _fs_write_text(spark, f"{d}/_HY_OK")

    idx = ensure_cached_build("wikid_hybrid_stream_index", key, build, "_HY_OK")
    return hybrid_rrf_streaming(spark, f"{idx}/fts", f"{idx}/vec", SEARCH_TERMS, 0)


# Mixed-script fixture of the FTS Unicode certification (VERDICT r15
# #5's BM25 half — the three BM25 oracles were certified on ASCII-only
# corpora because the driver's documents tables contain no non-ASCII
# text at any SF). Upper rows feed the Spark tokenizer; lower rows are
# the AUTHORED folded forms (lowercase + NFD diacritic strip — the
# unicode61 rule `operators.fts.fold_term` implements), verified
# against fold_term in tests so the oracle literals cannot drift from
# the kernel table.
_FTSU_UPPER = (
    "Zürich", "CAFÉ", "Ёлка", "Москва", "Ελλάδα", "東京",
    "Čapek", "NAÏVE", "Dvořák", "señor", "Günther", "zażółć",
)
_FTSU_FOLDED = (
    "zurich", "cafe", "елка", "москва", "ελλαδα", "東京",
    "capek", "naive", "dvorak", "senor", "gunther", "zazołc",
)
# Query spellings deliberately unfolded/case-varied: the serve path
# must fold them (fold_term) to match the folded postings.
_FTSU_TERMS = ["Zürich", "Ёлка", "東京"]  # fold to indexes 0, 2, 5


@query(
    "fts_bm25_unicode",
    oracle="""
    WITH w(i, tok) AS (VALUES
      (0, 'zurich'), (1, 'cafe'), (2, 'елка'), (3, 'москва'),
      (4, 'ελλαδα'), (5, '東京'), (6, 'capek'), (7, 'naive'),
      (8, 'dvorak'), (9, 'senor'), (10, 'gunther'), (11, 'zazołc')),
    cert AS (SELECT doc_id, text FROM documents WHERE doc_id < 40),
    ftok AS (
      SELECT doc_id,
             COALESCE(list_filter(
               string_split_regex(lower(COALESCE(text, '')),
                                  '[^\\p{L}\\p{N}_]+'),
               x -> x <> '')[1], 'doc') AS tok
      FROM cert
    ),
    toks AS (
      -- the synthesized doc's FOLDED token multiset, fixed by the
      -- same composition rule the Spark side uses: word A repeated
      -- (doc_id % 3) + 1 times, the doc's first (ASCII) token, word B
      SELECT c.doc_id AS doc, w.tok
      FROM cert c JOIN w ON w.i = c.doc_id % 12
      CROSS JOIN range(3) r(j) WHERE r.j <= c.doc_id % 3
      UNION ALL
      SELECT c.doc_id, w.tok FROM cert c JOIN w ON w.i = (c.doc_id + 5) % 12
      UNION ALL
      SELECT doc_id, tok FROM ftok
    ),
    dl AS (SELECT doc, COUNT(*) AS doc_len FROM toks GROUP BY doc),
    corpus AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             AVG(CAST(doc_len AS DOUBLE)) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT t.tok AS term, t.doc, dl.doc_len, COUNT(*) AS tf
      FROM toks t JOIN dl ON dl.doc = t.doc
      WHERE t.tok IN ('zurich', 'елка', '東京')
      GROUP BY t.tok, t.doc, dl.doc_len
    ),
    df AS (
      SELECT term, COUNT(DISTINCT doc) AS df FROM tf GROUP BY term
    )
    SELECT tf.doc,
           ROUND(SUM(
             ln(1 + (corpus.n_docs - df.df + 0.5) / (df.df + 0.5))
             * (tf.tf * (1.2 + 1.0))
             / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * tf.doc_len / corpus.avgdl))
           ), 4) AS score
    FROM tf, df, corpus
    WHERE tf.term = df.term
    GROUP BY tf.doc
    ORDER BY score DESC, tf.doc
    """,
    tags=("fts", "bm25", "unicode"),
)
def fts_bm25_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Unicode slice of the BM25 certification (VERDICT r15 #5):
    synthesized mixed-script documents run through the REAL FTS
    pipeline — `fold_diacritics` (JVM translate over the NFD table) on
    accented Latin / Greek / Cyrillic, the Unicode-aware token split
    on CJK, `fold_term` on deliberately-unfolded query spellings
    ("Zürich" must match postings tokenized as "zurich") — scored by
    the deployed `bm25_from_docs` path, prefilter and all.

    Each doc's text is two fixture words picked by doc_id (the first
    repeated (doc_id % 3) + 1 times, so tf and doc_len genuinely vary)
    plus the doc's own first token under the engine-neutral class
    split. The oracle fixes the FOLDED token multiset in a CTE — the
    authored fold outputs, verified against `fold_term` in
    tests/test_text_kernels so the literals cannot drift from the
    kernel's fold table — and computes the identical BM25 arithmetic
    from those rows; no DuckDB regex or case/diacritic fold runs on
    non-ASCII text at query time (the divergence VERDICT r15 #5 says
    to sidestep).

    Scale: a 40-doc certification slice; the scored path is the same
    docs-direct plan the corpus-scale BM25 queries use."""
    words = F.array(*[F.lit(w) for w in _FTSU_UPPER])
    first_tok = F.coalesce(
        F.element_at(
            F.filter(
                F.split(
                    F.lower(F.coalesce(F.col("text"), F.lit(""))),
                    r"[^\p{L}\p{N}_]+",
                ),
                lambda t: t != "",
            ),
            1,
        ),
        F.lit("doc"),
    )
    a = F.element_at(words, (F.col("doc_id") % 12 + 1).cast("int"))
    b = F.element_at(words, ((F.col("doc_id") + 5) % 12 + 1).cast("int"))
    r = (F.col("doc_id") % 3 + 1).cast("int")
    docs = (
        table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select(
            "doc_id",
            F.concat_ws(
                " ", F.concat_ws(" ", F.array_repeat(a, r)), first_tok, b
            ).alias("text"),
        )
    )
    return (
        bm25_from_docs(docs, "doc_id", "text", _FTSU_TERMS)
        .select("doc", F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), "doc")
    )


@query(
    "fts_serve_versioned",
    oracle=_BM25_TOPK_ORACLE,
    tags=("fts", "bm25", "versioned", "serving"),
)
def fts_serve_versioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served through the VERSIONED pointer layout (round 16): the
    FTS instance of the generic versioned-root engine
    (`wikid_spark.versioned` — the ANN index's round-14 promotion
    contract, extracted and shared verbatim). The serve runs the real
    production sequence: `maybe_refresh_fts_index` (bootstrap on first
    touch, a stat-walk no-op when the corpus bytes are unchanged,
    lease-guarded republish when they aren't), `resolve_current_fts_index`
    through the atomic CURRENT pointer, then the bucket-pruned persisted
    read. Results are identical to `fts_bm25_topk` — same certifying
    oracle text — so one hash-green row covers the publish, pointer
    resolution, and the serve.

    Scale: promotion is one single-object PUT (object-store atomic);
    an unchanged corpus pays a directory stat per serve, never a
    rebuild; superseded versions stay alive for in-flight serves
    (hold-open GC, keep=2)."""
    import hashlib
    import os
    import tempfile

    from wikid_spark.operators.fts import (
        bm25_persisted,
        maybe_refresh_fts_index,
        resolve_current_fts_index,
    )

    root = os.path.join(
        tempfile.gettempdir(),
        "wikid_fts_versioned",
        hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:16],
    )
    maybe_refresh_fts_index(spark, sf_dir, root)
    index_dir = resolve_current_fts_index(spark, root)
    ranked = bm25_persisted(spark, index_dir, SEARCH_TERMS)
    return (
        ranked.select("doc", F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), "doc")
        .limit(20)
    )
