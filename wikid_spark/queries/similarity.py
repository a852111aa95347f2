"""Similarity search over embedding columns (north-star, SURVEY.md §7.6).

Brute-force cosine top-k is the exactness baseline (and the oracle);
random-hyperplane LSH bucketing is the scale path — at 100 TB the
bucket equi-join touches only same-bucket pairs instead of the n² pair
space. Hyperplane weights are deterministic integer functions of
(plane, dim) so Spark and DuckDB compute identical buckets.
"""

from __future__ import annotations

from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from wikid_spark.catalog import corpus_rows, table
from wikid_spark.fsutil import _fs_read_text, _fs_write_text
from wikid_spark.functions.vectors import cosine_similarity
from wikid_spark.registry import query

N_PLANES = 8  # 2^8 = 256 buckets
EMBED_DIMS = 64
N_TABLES = 3  # OR'd LSH hash tables (recall ∝ 1-(1-p^planes)^tables)
# Query-side sample: vec_id % 50 = 0 AND vec_id < 2000 — a FIXED query
# budget (max 40 queries) rather than a corpus fraction. At the driver
# SFs every vec_id is < 2000, so results are unchanged; at sf1/sf10 the
# benchmark measures a constant serving workload instead of one that
# grows with the corpus (the round-5 scale run showed the proportional
# form going quadratic across decades by construction and exhausting
# the single-JVM heap on the multitable path — SCALE.md "fixed query
# budget"). Per-query cost remains the serving metric either way.
# w(p, d) = ((17p + 31d) mod 7) - 3 ∈ [-3, 3]: a fixed pseudo-random
# projection matrix both engines can compute with integer arithmetic.


def quantize_embedding(emb_col):
    """Fixed-point quantization (floor(x·1000) as long). The hyperplane
    sign test then runs on exact integer dot products — a float dot
    within rounding noise of zero could otherwise flip a bucket bit
    between Spark's ordered fold and DuckDB's unordered SUM. float32 →
    double is exact and ·1000.0/floor are the same double ops in both
    engines, so quantized values agree bit-for-bit."""
    return F.transform(
        emb_col, lambda x: F.floor(x.cast("double") * 1000.0).cast("long")
    )


_BUCKET_KERNELS: dict = {}


def _bucket_all_kernel(n_tables: int):
    """Vectorized twin of `_bucket_expr_t` for CORPUS-side bucket
    passes (round-16, guide §4.2): all ``n_tables`` × {N_PLANES}-plane
    hyperplane tests evaluate as ONE integer matmul per Arrow batch —
    X(rows × dims) @ W(dims × tables·planes), sign → bits → bucket ids
    — instead of tables·planes interpreted HOF aggregates per row
    (HOFs are not codegen'd; measured ~2× the whole bucket pass at
    sf0.1, and the gap grows with rows). Quantization happens inside
    the kernel (float32 → float64 is exact, ×1000.0 and floor are the
    same correctly-rounded IEEE ops the JVM HOF applies), weights
    w(p,d,t) = ((17p + (31+t)d) mod 7) − 3 are exact small integers,
    and |dot| ≪ 2^53, so the float64 matmul reproduces the JVM's LONG
    arithmetic bit-for-bit (pinned by test + the LSH oracles).
    Sample-side (≤40-row) bucket expressions stay on the HOF path —
    a Python pass is not worth 40 rows.

    Returns a pandas UDF mapping the raw ``embedding`` column to the
    array<long> of per-table bucket ids (table index = array index,
    matching the `_bucket_expr_t` loop order)."""
    cached = _BUCKET_KERNELS.get(n_tables)
    if cached is not None:
        return cached
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import ArrayType, LongType

    W = np.zeros((EMBED_DIMS, n_tables * N_PLANES), dtype=np.float64)
    for t in range(n_tables):
        for p in range(N_PLANES):
            for d in range(EMBED_DIMS):
                W[d, t * N_PLANES + p] = ((17 * p + (31 + t) * d) % 7) - 3
    pows = np.array([2**p for p in range(N_PLANES)], dtype=np.int64)
    nt = n_tables

    def bucket_all(emb):
        if len(emb) == 0:
            return pd.Series([], dtype=object)
        X = np.floor(np.array(emb.tolist(), dtype=np.float64) * 1000.0)
        D = X @ W  # exact integers in float64
        bits = (D >= 0).astype(np.int64).reshape(len(X), nt, N_PLANES)
        return pd.Series(list((bits * pows[None, None, :]).sum(axis=2)))

    # Annotate with the REAL pandas objects (not strings): the module's
    # `from __future__ import annotations` stringifies inline hints,
    # and `pd` lives only in this factory's scope, so pandas_udf's
    # eval-type inference could not resolve them.
    bucket_all.__annotations__ = {"emb": pd.Series, "return": pd.Series}
    bucket_all = F.pandas_udf(ArrayType(LongType()))(bucket_all)

    _BUCKET_KERNELS[n_tables] = bucket_all
    return bucket_all


# The one-matmul kernel pays a fixed Arrow-boundary cost (Python
# worker round-trip, ~0.5-0.65 s wall at 32 local cores) that the
# all-JVM HOF path does not, while the HOF cost grows with
# rows × tables. Re-measured round-16 AFTER excluding the
# InferFiltersFromGenerate rule (whose inferred filter had been
# double-evaluating BOTH branches and skewed the first calibration):
# interleaved A/B at sf0.1 (2k vectors, 3 tables = 6k row·tables) —
# HOF 0.31 s vs kernel 0.65 s; HOF marginal ≈ 0.03 ms/row·table, so
# the single-eval crossover sits near kernel_fixed / marginal ≈ 20k.
# Routing is derived from the corpus rowcount (parquet footers), so
# small corpora keep the all-JVM plan and large ones amortize the
# kernel — not a local[32] constant.
_BUCKET_KERNEL_MIN_ROW_TABLES = 20_000


def _corpus_bucketed(emb: DataFrame, n_rows: int, n_tables: int = 1) -> DataFrame:
    """(vec_id, embedding, _bkts array<long>) for a CORPUS-side LSH
    bucket pass, routed between the interpreted-HOF expressions and the
    one-matmul pandas kernel by rows×tables (crossover constant above).
    Outputs are bit-identical either way (`_bucket_all_kernel`
    docstring); only the physical plan differs."""
    if n_rows * n_tables >= _BUCKET_KERNEL_MIN_ROW_TABLES:
        return emb.select(
            "vec_id",
            "embedding",
            _bucket_all_kernel(n_tables)(F.col("embedding")).alias("_bkts"),
        )
    # qemb is BOUND to a projected column first: HOF lambdas are not
    # common-subexpression-eliminated, so an inline quantize would
    # re-run per plane (CollapseProject keeps non-cheap aliases).
    return emb.withColumn(
        "qemb", quantize_embedding(F.col("embedding"))
    ).select(
        "vec_id",
        "embedding",
        F.array(
            *[
                _bucket_expr_t(F.col("qemb"), t).cast("long")
                for t in range(n_tables)
            ]
        ).alias("_bkts"),
    )


def _bucket_expr(qemb_col):
    """LSH bucket id over a QUANTIZED embedding column: for each
    hyperplane p, bit_p = [Σ_d qemb[d]·w(p,d) >= 0] — all-integer.
    Delegates to table 0 of the multi-table family (one weight formula
    to keep in sync with the shared oracle CTE)."""
    return _bucket_expr_t(qemb_col, 0)


# Shared oracle CTE: quantized per-dimension values (mirror of
# quantize_embedding) and integer hyperplane dot products.
_BUCKETS_CTE = f"""
    dims AS (
      SELECT vec_id, d,
             CAST(FLOOR(embedding[d + 1]::DOUBLE * 1000.0) AS BIGINT) AS x
      FROM embeddings, range(64) t(d)
    ), planes AS (
      SELECT vec_id, p, SUM(x * (((17 * p + 31 * d) % 7) - 3)) AS dot_p
      FROM dims, range({N_PLANES}) u(p)
      GROUP BY vec_id, p
    ), buckets AS (
      SELECT vec_id,
             -- CAST: DuckDB SUM(<integer>) is HUGEINT → driver hash-mismatch
             CAST(SUM(CASE WHEN dot_p >= 0 THEN POWER(2, p)::BIGINT ELSE 0 END) AS BIGINT) AS bucket
      FROM planes GROUP BY vec_id
    )
"""


def _scored(
    cands: DataFrame,
    id_col: str = "neighbor_id",
    keep=(),
    where=None,
    drop_self: bool = True,
) -> DataFrame:
    """The scoring step of the ranking contract every ANN query shares
    with its DuckDB oracle: drop the self-match (``vec_id`` ==
    ``query_id``, ANDed with the caller's extra predicate ``where``),
    then emit (query_id, ``id_col``, *``keep``, sim) with sim =
    ROUND(cosine(embedding, qe), 4) — ranking happens on the ROUNDED
    value, so cross-engine float noise cannot reorder ties. ``cands``
    is the caller's join (cross, cell or bucket equi-join) of candidate
    rows (vec_id, embedding) to query rows (query_id, qe).
    ``drop_self=False`` scores a shortlist already keyed by a
    self-free ``id_col`` (the ADC re-rank), so no filter is planned.
    Callers whose probe can reach one pair twice (more than one probed
    cell, more than one hash table) de-duplicate the result: sim is a
    deterministic function of the pair, so DISTINCT is exact."""
    sim = F.round(cosine_similarity(F.col("embedding"), F.col("qe")), 4)
    if not drop_self:
        return cands.select("query_id", id_col, *keep, sim.alias("sim"))
    cond = F.col("vec_id") != F.col("query_id")
    if where is not None:
        cond = cond & where
    return cands.filter(cond).select(
        "query_id", F.col("vec_id").alias(id_col), *keep, sim.alias("sim")
    )


def _top_n(
    scored: DataFrame, n: int, id_col: str = "neighbor_id", ordered: bool = True
) -> DataFrame:
    """The top-n cut of the ranking contract: ``rn`` = row_number per
    query_id over (sim DESC, ``id_col`` ASC) — the oracles' ROW_NUMBER
    tie-break — keeping rn <= n, ordered by (query_id, rn).
    ``ordered=False`` skips the sort for a pool whose consumer re-keys
    it (the MMR greedy)."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col(id_col)
    )
    top = scored.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= n
    )
    return top.orderBy("query_id", "rn") if ordered else top


@query(
    "sim_ann_brute_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2000),
    sims AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) AS sim
      FROM embeddings e, q
      WHERE e.vec_id <> q.query_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
      FROM sims
    )
    SELECT query_id, neighbor_id, sim, rn
    FROM ranked WHERE rn <= 3
    ORDER BY query_id, rn
    """,
    tags=("similarity", "ann"),
)
def sim_ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force ANN baseline: top-3 cosine neighbors for each sampled
    query vector. The query side (vec_id % 50 = 0 AND vec_id < 2000) broadcasts; ranking
    happens on the ROUNDED similarity so cross-engine float noise can't
    reorder ties."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    return _top_n(_scored(emb.crossJoin(F.broadcast(q))), 3)


@query(
    "sim_lsh_buckets",
    oracle=f"""
    WITH {_BUCKETS_CTE}
    SELECT vec_id, bucket FROM buckets
    ORDER BY vec_id
    """,
    tags=("similarity", "lsh"),
)
def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket assignment ({N_PLANES} planes → 256
    buckets) over fixed-point-quantized embeddings — integer-exact, so
    no cross-engine sign flips. Pure transform/zip_with/aggregate
    arithmetic — no explode, no UDF; one pass over the table."""
    emb = table(spark, sf_dir, "embeddings")
    n = corpus_rows(sf_dir, "embeddings")
    return (
        _corpus_bucketed(emb, n)
        .select("vec_id", F.col("_bkts")[0].alias("bucket"))
        .orderBy("vec_id")
    )


@query(
    "sim_lsh_ann_topk",
    oracle=f"""
    WITH {_BUCKETS_CTE}, q AS (
      SELECT e.vec_id AS query_id, e.embedding AS qe, b.bucket
      FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id
      WHERE e.vec_id % 50 = 0 AND e.vec_id < 2000
    ), cands AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) AS sim
      FROM q
      JOIN buckets b ON b.bucket = q.bucket
      JOIN embeddings e ON e.vec_id = b.vec_id
      WHERE e.vec_id <> q.query_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
      FROM cands
    )
    SELECT query_id, neighbor_id, sim, rn
    FROM ranked WHERE rn <= 3
    ORDER BY query_id, rn
    """,
    tags=("similarity", "lsh", "ann"),
)
def sim_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN: candidates restricted to the query's LSH bucket,
    then exact cosine re-rank of the candidates. The bucket equi-join is
    the scale win — shuffle on bucket id instead of an n² cross join."""
    emb = table(spark, sf_dir, "embeddings")
    # Corpus-side buckets via the rows×tables-routed pass (round-16,
    # guide §4.2); the 40-row query side below always keeps the HOF
    # expression — identical integers either way (kernel docstring).
    bucketed = _corpus_bucketed(
        emb, corpus_rows(sf_dir, "embeddings")
    ).select("vec_id", "embedding", F.col("_bkts")[0].alias("bucket"))
    # Query side: FILTER the scan before bucketing, so the (broadcast)
    # side computes bucket ids for the 1/50 sample only — not a second
    # full-corpus bucket pass that is then thrown away. The quantized
    # array is BOUND to a projected column before _bucket_expr: HOF
    # lambdas are not common-subexpression-eliminated, so an inline
    # quantize would re-run per plane (same pitfall as _shingles).
    q = (
        emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000))
        .withColumn("qemb", quantize_embedding(F.col("embedding")))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            _bucket_expr(F.col("qemb")).cast("long").alias("qbucket"),
        )
    )
    return _top_n(
        _scored(
            bucketed.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
        ),
        3,
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path next to hyperplane LSH.
# Centroids are a CONSTANT-K deterministic hash-sample of the corpus: rank
# every vector by a fixed multiplicative hash of vec_id and keep the K
# smallest. No training loop, so both engines derive the identical index;
# the "train" step is a global top-K (TakeOrderedAndProject — K rows cross
# the wire, never the corpus), and K is corpus-size-INDEPENDENT, so the
# centroid broadcast and the n×K assignment cost hold at 100 TB (vs the
# earlier stride design whose centroid count grew as n/25, making
# assignment effectively quadratic). Cell assignment runs on quantized
# integer arithmetic (exact across engines); the re-rank inside the
# probed cell is exact cosine. Tune K ≈ √n per deployment; it is a config
# constant, not a function of the data.
# ---------------------------------------------------------------------------

N_CENTROIDS = 20  # constant K — index width does not scale with the corpus
# Centroid-sampling hash h(v) = ((v % P) * A + C) % 2^31. The pre-mod P
# bounds the product at P*A ≈ 1.1e17 < 2^63: DuckDB BIGINT arithmetic
# ERRORS on overflow (Spark longs wrap), so intermediates must stay exact
# in both engines for identical centroid choice.
_H_P = 100_000_007
_H_A = 1_103_515_245
_H_C = 12_345
_H_M = 2_147_483_648
_CENT_HASH_SQL = f"((vec_id % {_H_P}) * {_H_A} + {_H_C}) % {_H_M}"


def derived_k(n: int) -> int:
    """Corpus-size-aware centroid count: K = ceil(sqrt(n)), clamped to
    [1, 65536]. With K ~ sqrt(n) the within-cell pair space of
    SemDeDup is sum(|cell|^2) ~ n^1.5 and each Lloyd/IVF cell stays
    ~sqrt(n) rows — the contract the module docstrings promise. The
    float sqrt is bit-stable across engines (exact for n < 2^52;
    DuckDB's CEIL(SQRT(n)) sees the identical double), so the derived
    K cannot disagree with the oracle's. The constant N_CENTROIDS
    remains the fixed SERVING budget of the ANN probe queries — index
    width for dedup/training derives from the corpus, probe cost at
    serve time does not."""
    import math

    return max(1, min(65536, int(math.ceil(math.sqrt(max(n, 0))))))


def _centroids(emb: DataFrame, k: int | None = None) -> DataFrame:
    h = ((F.col("cent_id") % _H_P) * _H_A + _H_C) % _H_M
    return (
        emb.select(
            F.col("vec_id").alias("cent_id"),
            quantize_embedding(F.col("embedding")).alias("cemb"),
        )
        .orderBy(h.alias("h"), F.col("cent_id"))
        .limit(N_CENTROIDS if k is None else k)
    )


def _cent_array(cents: DataFrame) -> DataFrame:
    """Fold a (cent_id, cemb) centroid table into ONE row holding
    array<struct<cent_id, cemb>> — the broadcastable form that turns
    assignment into a pure projection. collect_list order is
    nondeterministic, but every consumer ranks by (dist, cent_id)
    structs, which is order-independent."""
    return cents.agg(F.collect_list(F.struct("cent_id", "cemb")).alias("cs"))


def _cell_scores(qemb_col, cs_col):
    """array<struct<dist, cent_id>> (index order) — integer squared-L2
    to every centroid, computed entirely inside a projection. Struct
    ordering = (dist, then cent_id), the same tie-break as the
    oracle's ROW_NUMBER."""
    return F.transform(
        cs_col,
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(
                    qemb_col, c["cemb"], lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("dist"),
            c["cent_id"].alias("cent_id"),
        ),
    )


def _cell_ranks(qemb_col, cs_col):
    """Cell preference order (ascending) for one vector — array_sort
    of the scored structs; used where more than the argmin is probed."""
    return F.array_sort(_cell_scores(qemb_col, cs_col))


def _assignments(emb: DataFrame, *, n_rows: int) -> DataFrame:
    """(vec_id, embedding, cent_id): each vector mapped to its nearest
    centroid by integer squared-L2 over the quantized vectors, ties to
    the lowest cent_id.

    Plan shape: the K centroids broadcast as ONE array row; argmin is
    array_min over (dist, cent_id) structs inside the projection — the
    corpus is never shuffled, K-expanded, or carried through an
    aggregation buffer. (The previous join+groupBy+first(embedding)
    form put an ARRAY column in the agg buffer, forcing SortAggregate —
    the 50x fallback the verify notes warn about.)"""
    qemb = emb.select(
        "vec_id", "embedding", quantize_embedding(F.col("embedding")).alias("qemb")
    )
    return _assign_blas(
        qemb,
        _centroids(emb),
        out_cols=["vec_id", "embedding"],
        n_rows=n_rows,
        k=N_CENTROIDS,
    ).select("vec_id", "embedding", "cent_id")


def _assignments_multi(
    emb: DataFrame, *, n_rows: int, k: int, top_m: int = 2
) -> DataFrame:
    """(vec_id, embedding, cent_id, cent_rank): each vector mapped to
    its ``top_m`` nearest of ``k`` corpus-derived centroids — the
    multi-assignment index build (SemDeDup cross-cell capture). Same
    exact-integer distance + (dist, cent_id) tie-break as
    `_assignments`."""
    qemb = emb.select(
        "vec_id", "embedding", quantize_embedding(F.col("embedding")).alias("qemb")
    )
    return _assign_blas(
        qemb,
        _centroids(emb, k),
        top_m=top_m,
        out_cols=["vec_id", "embedding"],
        n_rows=n_rows,
        k=k,
    ).select(
        "vec_id", "embedding", "cent_id", "cent_rank"
    )


def ivf_derived_cte(
    table_name: str = "embeddings", top_m: int = 2, prefix: str = ""
) -> str:
    """DuckDB CTE fragment: derived-K centroids (K = ceil(sqrt(n)),
    the same double-sqrt `derived_k` computes) and top-``top_m``
    multi-assignment via ROW_NUMBER over (dist, cent_id). Kept beside
    `_IVF_CTE` (the fixed-K serving form) so both engines share one
    definition of each. ``prefix`` renames the internal CTEs so the
    fragment can be embedded in oracles that already use the bare
    names (sim_recall_report)."""
    p = prefix
    return f"""
    {p}qv AS (
      SELECT vec_id, embedding,
             list_transform(embedding,
                            x -> CAST(FLOOR(x::DOUBLE * 1000.0) AS BIGINT)) AS qemb
      FROM {table_name}
    ), {p}kd AS (
      SELECT GREATEST(1, LEAST(65536,
               CAST(CEIL(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))) AS k
      FROM {table_name}
    ), {p}cents AS (
      SELECT cent_id, cemb FROM (
        SELECT vec_id AS cent_id, qemb AS cemb,
               ROW_NUMBER() OVER (ORDER BY {_CENT_HASH_SQL}, vec_id) AS krn
        FROM {p}qv) ranked, {p}kd
      WHERE ranked.krn <= {p}kd.k
    ), {p}dists AS (
      SELECT {p}qv.vec_id, {p}qv.embedding, {p}cents.cent_id,
             CAST(list_sum(list_transform({p}qv.qemb,
                    (x, i) -> (x - {p}cents.cemb[i]) * (x - {p}cents.cemb[i])))
                  AS BIGINT) AS dist
      FROM {p}qv, {p}cents
    ), {p}assigned AS (
      SELECT vec_id, embedding, cent_id, CAST(rn AS INT) AS cent_rank
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cent_id) AS rn
            FROM {p}dists)
      WHERE rn <= {top_m}
    )
"""


# DuckDB twin: quantized vectors + per-(vector, centroid) integer L2,
# argmin by (dist, cent_id).
_IVF_CTE = f"""
    qv AS (
      SELECT vec_id, embedding,
             list_transform(embedding,
                            x -> CAST(FLOOR(x::DOUBLE * 1000.0) AS BIGINT)) AS qemb
      FROM embeddings
    ), cents AS (
      SELECT vec_id AS cent_id, qemb AS cemb FROM qv
      ORDER BY {_CENT_HASH_SQL}, vec_id
      LIMIT {N_CENTROIDS}
    ), dists AS (
      SELECT qv.vec_id, qv.embedding, cents.cent_id,
             CAST(list_sum(list_transform(qv.qemb,
                    (x, i) -> (x - cents.cemb[i]) * (x - cents.cemb[i])))
                  AS BIGINT) AS dist
      FROM qv, cents
    ), assigned AS (
      SELECT vec_id, embedding, cent_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cent_id) AS rn
            FROM dists)
      WHERE rn = 1
    )
"""


@query(
    "sim_ivf_cells",
    oracle=f"""
    WITH {_IVF_CTE}
    SELECT cent_id, COUNT(*) AS n_vectors
    FROM assigned GROUP BY cent_id
    ORDER BY cent_id
    """,
    tags=("similarity", "ivf"),
)
def sim_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index build check: vectors per cell. The argmin is a
    broadcast-join + min_by aggregation — the corpus never shuffles on
    anything but its own key, so the index build is one pass."""
    emb = table(spark, sf_dir, "embeddings")
    return (
        _assignments(emb, n_rows=corpus_rows(sf_dir, "embeddings"))
        .groupBy("cent_id")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("cent_id")
    )


@query(
    "sim_ivf_derived_cells",
    oracle=f"""
    WITH {ivf_derived_cte()}
    SELECT cent_id, cent_rank,
           COUNT(*) AS n_vectors
    FROM assigned GROUP BY cent_id, cent_rank
    ORDER BY cent_id, cent_rank
    """,
    tags=("similarity", "ivf", "derived-k"),
)
def sim_ivf_derived_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-size-aware index build: K = ceil(sqrt(n)) centroids
    (`derived_k` — one scalar count at build time, the K~sqrt(n)
    contract the SemDeDup/Lloyd docstrings promise) and TOP-2
    multi-assignment per vector (`_assignments_multi`), histogrammed
    per (cell, rank). Rank-1 rows are the primary partition of the
    corpus; rank-2 rows are each vector's runner-up cell — the overlap
    that lets within-cell dedup catch pairs straddling a cell
    boundary. Scale: same one-pass plan as `sim_ivf_cells` (broadcast
    K-row centroid table, BLAS argsort per corpus slice, one groupBy);
    the corpus is scanned once and never self-joined, and the index
    doubles rows (top-2), not pair space."""
    emb = table(spark, sf_dir, "embeddings")
    n = corpus_rows(sf_dir, "embeddings")
    k = derived_k(n)
    return (
        _assignments_multi(emb, n_rows=n, k=k, top_m=2)
        .groupBy("cent_id", "cent_rank")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("cent_id", "cent_rank")
    )


@query(
    "sim_ivf_derived_topk",
    oracle=f"""
    WITH {ivf_derived_cte()}, q AS (
      SELECT vec_id AS query_id, embedding AS qe, cent_id AS qcell
      FROM assigned
      WHERE cent_rank = 1 AND vec_id % 50 = 0 AND vec_id < 2000
    ), cands AS (
      SELECT q.query_id, a.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                          q.qe::DOUBLE[]), 4) AS sim
      FROM q JOIN assigned a ON a.cent_id = q.qcell
      WHERE a.vec_id <> q.query_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, neighbor_id) AS rn
      FROM cands
    )
    SELECT query_id, neighbor_id, sim, rn
    FROM ranked WHERE rn <= 3
    ORDER BY query_id, rn
    """,
    tags=("similarity", "ivf", "ann", "derived-k"),
)
def sim_ivf_derived_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN served from the derived-K/top-2 index: the query probes its
    SINGLE nearest cell (one-cell probe budget), but because every
    corpus vector is indexed under its top-2 cells, the probe also
    surfaces neighbors whose primary cell is elsewhere — the
    multi-assignment trade (2x index rows for wider recall at
    UNCHANGED probe cost; contrast nprobe=2, which doubles probe cost
    instead). Recall audited as a sixth method in sim_recall_report.

    Scale: identical plan shape to sim_ivf_ann_topk — broadcast query
    sample, cell-id equi-join against the (2x) index, per-query
    top-3 window. Cells are ~sqrt(n) rows by the derived-K contract,
    so per-query probe work stays ~2·sqrt(n)."""
    emb = table(spark, sf_dir, "embeddings")
    n = corpus_rows(sf_dir, "embeddings")
    k = derived_k(n)
    qemb = emb.select(
        "vec_id", "embedding", quantize_embedding(F.col("embedding")).alias("qemb")
    )
    # The K-row seed centroid table feeds BOTH the corpus assignment
    # and the probe ranks; eager checkpoint runs its TakeOrdered
    # corpus pass once instead of once per consumer (guide §5.3).
    cents = _centroids(emb, k).localCheckpoint(eager=True)
    a2 = _assign_blas(
        qemb,
        cents,
        top_m=2,
        out_cols=["vec_id", "embedding"],
        n_rows=n,
        k=k,
    ).select("vec_id", "embedding", "cent_id", "cent_rank")
    # Query cells via the JVM sample kernel (round-16, guide §2.4):
    # filtering ``a2`` for the sample's rank-1 rows re-executed the
    # corpus-wide Python assignment in the broadcast branch; the
    # 40-row argmin against the same seed centroids is the same cell
    # by construction and leaves ``a2`` with a single consumer.
    q = _probe_ranks(_sample_filter(qemb), cents, k=k).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("cent_id").alias("qcell"),
    )
    return _top_n(
        _scored(a2.join(F.broadcast(q), F.col("cent_id") == F.col("qcell"))), 3
    )


@query(
    "sim_ivf_ann_topk",
    oracle=f"""
    WITH {_IVF_CTE}, q AS (
      SELECT vec_id AS query_id, embedding AS qe, cent_id AS qcell
      FROM assigned WHERE vec_id % 50 = 0 AND vec_id < 2000
    ), cands AS (
      SELECT q.query_id, a.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(a.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) AS sim
      FROM q JOIN assigned a ON a.cent_id = q.qcell
      WHERE a.vec_id <> q.query_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
      FROM cands
    )
    SELECT query_id, neighbor_id, sim, rn
    FROM ranked WHERE rn <= 3
    ORDER BY query_id, rn
    """,
    tags=("similarity", "ivf", "ann"),
)
def sim_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=1: candidates are the query's own cell, then
    exact cosine re-rank. Complements hyperplane LSH: cells follow the
    data distribution (centroids are corpus points), so recall degrades
    more gracefully on clustered data. The probe is a cell-id equi-join
    — per-query work is |cell|, not |corpus|."""
    emb = table(spark, sf_dir, "embeddings")
    n = corpus_rows(sf_dir, "embeddings")
    qemb = emb.select(
        "vec_id", "embedding", quantize_embedding(F.col("embedding")).alias("qemb")
    )
    # Same round-16 shape as sim_ivf_derived_topk (guide §2.4/§5.3):
    # the K-row seed centroids checkpoint once for both consumers, and
    # the probe side assigns the 40-row sample via the JVM kernel
    # instead of filtering ``assigned`` (which re-ran the corpus
    # assignment in the broadcast branch — same cell by construction).
    cents = _centroids(emb).localCheckpoint(eager=True)
    assigned = _assign_blas(
        qemb, cents, out_cols=["vec_id", "embedding"], n_rows=n, k=N_CENTROIDS
    ).select("vec_id", "embedding", "cent_id")
    q = _probe_ranks(_sample_filter(qemb), cents, k=N_CENTROIDS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("cent_id").alias("qcell"),
    )
    return _top_n(
        _scored(
            assigned.join(F.broadcast(q), F.col("cent_id") == F.col("qcell"))
        ),
        3,
    )


@query(
    "sim_ivf_ann_topk_nprobe2",
    oracle=f"""
    WITH qv AS (
      SELECT vec_id, embedding,
             list_transform(embedding,
                            x -> CAST(FLOOR(x::DOUBLE * 1000.0) AS BIGINT)) AS qemb
      FROM embeddings
    ), cents AS (
      SELECT vec_id AS cent_id, qemb AS cemb FROM qv
      ORDER BY {_CENT_HASH_SQL}, vec_id
      LIMIT {N_CENTROIDS}
    ), dists AS (
      SELECT qv.vec_id, qv.embedding, cents.cent_id,
             CAST(list_sum(list_transform(qv.qemb,
                    (x, i) -> (x - cents.cemb[i]) * (x - cents.cemb[i])))
                  AS BIGINT) AS dist,
             ROW_NUMBER() OVER (PARTITION BY qv.vec_id
                                ORDER BY CAST(list_sum(list_transform(qv.qemb,
                                  (x, i) -> (x - cents.cemb[i]) * (x - cents.cemb[i])))
                                  AS BIGINT), cents.cent_id) AS rn
      FROM qv, cents
    ), assigned AS (
      SELECT vec_id, embedding, cent_id FROM dists WHERE rn = 1
    ), probes AS (
      SELECT vec_id AS query_id, embedding AS qe, cent_id AS pcell
      FROM dists WHERE rn <= 2 AND vec_id % 50 = 0 AND vec_id < 2000
    ), cands AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(a.embedding::DOUBLE[], p.qe::DOUBLE[]), 4) AS sim
      FROM probes p JOIN assigned a ON a.cent_id = p.pcell
      WHERE a.vec_id <> p.query_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
      FROM cands
    )
    SELECT query_id, neighbor_id, sim, rn
    FROM ranked WHERE rn <= 3
    ORDER BY query_id, rn
    """,
    tags=("similarity", "ivf", "ann"),
)
def sim_ivf_ann_topk_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=2: each query searches its TWO nearest cells
    (the SCALE.md recall knob made concrete — probing is literally a
    rank filter on the same integer centroid distances). Per-query work
    doubles; recall strictly dominates nprobe=1. Candidates are
    de-duplicated across probes before ranking."""
    emb = table(spark, sf_dir, "embeddings")
    # Cell preference order per vector as a projected sorted array —
    # rank-1 is the assignment, ranks 1..2 are the probes; no n×K
    # expansion or window shuffle (same map-side idiom as _assignments).
    ranked = emb.withColumn(
        "qemb", quantize_embedding(F.col("embedding"))
    ).crossJoin(F.broadcast(_cent_array(_centroids(emb)))).select(
        "vec_id",
        "embedding",
        _cell_ranks(F.col("qemb"), F.col("cs")).alias("ranks"),
    )
    assigned = ranked.select(
        "vec_id", "embedding", F.col("ranks")[0]["cent_id"].alias("cent_id")
    )
    probes = (
        ranked.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.explode(
                F.transform(F.slice("ranks", 1, 2), lambda r: r["cent_id"])
            ).alias("pcell"),
        )
    )
    cands = _scored(
        assigned.join(F.broadcast(probes), F.col("cent_id") == F.col("pcell"))
    ).distinct()
    return _top_n(cands, 3)


TRAINED_DERIVED_ROUNDS = 3
# The fixed query budget (module header): every _QUERY_SAMPLE_STRIDE-th
# vec_id below _QUERY_SAMPLE_BOUND, so at most _QUERY_SAMPLE_MAX_ROWS
# queries at any corpus size.
_QUERY_SAMPLE_STRIDE = 50
_QUERY_SAMPLE_BOUND = 2000
_QUERY_SAMPLE_MAX_ROWS = _QUERY_SAMPLE_BOUND // _QUERY_SAMPLE_STRIDE
_QUERY_SAMPLE_SQL = (
    f"vec_id % {_QUERY_SAMPLE_STRIDE} = 0 AND vec_id < {_QUERY_SAMPLE_BOUND}"
)


def _lloyd_trained_fragment(rounds: int, prefix: str = "") -> str:
    """DuckDB CTE fragment (no WITH, no final SELECT): derived-K
    seeds, ``rounds`` unrolled Lloyd steps, then — against the TRAINED
    centroids — ``{p}frk`` (every vector's full cell-preference
    ranking: dist + rn per (vec_id, cent_id)) and ``{p}index`` (the
    top-2 multi-assignment). Probe depth is a downstream ``rn <=
    nprobe`` filter on frk, so one training chain serves every nprobe
    and the recall report embeds it once. MATERIALIZED throughout —
    each round is referenced by the next, and frk by index + probes
    (inlined, DuckDB would double the scan tree per reference)."""
    p = prefix
    ctes = [
        f"""{p}qv AS MATERIALIZED (
      SELECT vec_id, embedding,
             list_transform(embedding,
                            x -> CAST(FLOOR(x::DOUBLE * 1000.0) AS BIGINT)) AS qemb
      FROM embeddings
    )""",
        f"""{p}kd AS (
      SELECT GREATEST(1, LEAST(65536,
               CAST(CEIL(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))) AS k
      FROM embeddings
    )""",
        f"""{p}c0 AS MATERIALIZED (
      SELECT cent_id, cemb FROM (
        SELECT vec_id AS cent_id, qemb AS cemb,
               ROW_NUMBER() OVER (ORDER BY {_CENT_HASH_SQL}, vec_id) AS krn
        FROM {p}qv) ranked, {p}kd
      WHERE ranked.krn <= {p}kd.k
    )""",
    ]
    for r in range(1, rounds + 1):
        c = f"{p}c{r - 1}"
        ctes.append(
            f"""{p}d{r} AS MATERIALIZED (
      SELECT {p}qv.vec_id, {p}qv.qemb, c.cent_id,
             CAST(list_sum(list_transform({p}qv.qemb,
                    (x, i) -> (x - c.cemb[i]) * (x - c.cemb[i])))
                  AS BIGINT) AS dist
      FROM {p}qv, {c} c
    )""")
        ctes.append(
            f"""{p}a{r} AS MATERIALIZED (
      SELECT vec_id, qemb, cent_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cent_id) AS rn
            FROM {p}d{r})
      WHERE rn = 1
    )""")
        ctes.append(
            f"""{p}c{r} AS MATERIALIZED (
      SELECT s.cent_id,
             list(CAST(FLOOR(s::DOUBLE / c.n) AS BIGINT) ORDER BY d) AS cemb
      FROM (SELECT cent_id, d, CAST(SUM(qemb[d + 1]) AS BIGINT) AS s
            FROM {p}a{r}, range({EMBED_DIMS}) t(d) GROUP BY cent_id, d) s
      JOIN (SELECT cent_id, COUNT(*) AS n FROM {p}a{r} GROUP BY cent_id) c
        ON s.cent_id = c.cent_id
      GROUP BY s.cent_id, c.n
    )""")
    ctes.append(
        f"""{p}frk AS MATERIALIZED (
      SELECT vec_id, embedding, cent_id, dist,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dist, cent_id) AS rn
      FROM (SELECT {p}qv.vec_id, {p}qv.embedding, c.cent_id,
                   CAST(list_sum(list_transform({p}qv.qemb,
                          (x, i) -> (x - c.cemb[i]) * (x - c.cemb[i])))
                        AS BIGINT) AS dist
            FROM {p}qv, {p}c{rounds} c)
    )""")
    ctes.append(
        f"""{p}index AS MATERIALIZED (
      SELECT vec_id, embedding, cent_id, CAST(rn AS INT) AS cent_rank
      FROM {p}frk WHERE rn <= 2
    )""")
    return ",\n".join(ctes)


def _trained_probe_sql(nprobe: int, prefix: str = "", src: str = "") -> str:
    """CTE tail over `_lloyd_trained_fragment` (whose prefix is
    ``src``): the sampled queries' top-``nprobe`` trained cells,
    candidates from the top-2 index (DISTINCT across probes when
    nprobe > 1 — a neighbor indexed in two cells can match two
    probes), exact-cosine top-3. Distinct ``prefix`` per probe depth
    lets several depths share ONE training chain."""
    p = prefix
    # nprobe may be a SQL expression string (the balanced tier derives
    # it from COUNT(*) in-query); any derived depth is > 1, so DISTINCT
    dedup = "DISTINCT " if isinstance(nprobe, str) or nprobe > 1 else ""
    return f"""{p}probes AS (
      SELECT vec_id AS query_id, embedding AS qe, cent_id AS pcell
      FROM {src}frk WHERE rn <= {nprobe} AND {_QUERY_SAMPLE_SQL}
    ), {p}cands AS (
      SELECT {dedup}q.query_id, a.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                          q.qe::DOUBLE[]), 4) AS sim
      FROM {p}probes q JOIN {src}index a ON a.cent_id = q.pcell
      WHERE a.vec_id <> q.query_id
    ), {p}top3 AS (
      SELECT query_id, neighbor_id, sim, rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS rn
        FROM {p}cands)
      WHERE rn <= 3
    )"""


def _lloyd_derived_oracle(rounds: int, nprobe: int = 1) -> str:
    """Generated DuckDB twin: derived-K seeds, ``rounds`` Lloyd steps,
    top-2 index, ``nprobe``-cell top-3 probe."""
    return (
        "WITH "
        + _lloyd_trained_fragment(rounds)
        + ",\n"
        + _trained_probe_sql(nprobe)
        + """
    SELECT query_id, neighbor_id, sim, rn
    FROM top3
    ORDER BY query_id, rn"""
    )


def _hard_neg_ann_tail(src: str = "", nprobe: int = 4) -> str:
    """CTE tail over `_lloyd_trained_fragment`: probe the sampled
    anchors' top-``nprobe`` trained cells, label-anti-filter the
    indexed candidates, exact-cosine re-rank to 3. The sample filter
    runs in a subquery so `_QUERY_SAMPLE_SQL`'s bare vec_id stays
    unambiguous next to the label join."""
    p = src
    return f"""hn_probes AS (
      SELECT f.vec_id AS query_id, f.embedding AS qe,
             el.label AS qlabel, f.cent_id AS pcell
      FROM (SELECT * FROM {p}frk
            WHERE rn <= {nprobe} AND {_QUERY_SAMPLE_SQL}) f
      JOIN embeddings el ON el.vec_id = f.vec_id
    ), hn_cands AS (
      SELECT DISTINCT q.query_id, a.vec_id AS negative_id, q.qlabel,
             el.label AS neg_label,
             ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                          q.qe::DOUBLE[]), 4) AS sim
      FROM hn_probes q
      JOIN {p}index a ON a.cent_id = q.pcell
      JOIN embeddings el ON el.vec_id = a.vec_id
      WHERE a.vec_id <> q.query_id AND el.label <> q.qlabel
    ), hn_top3 AS (
      SELECT query_id, negative_id, qlabel, neg_label, sim, rn FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, negative_id) AS rn
        FROM hn_cands)
      WHERE rn <= 3
    )"""


@query(
    "sim_group_centroids",
    oracle="""
    WITH dims AS (
      SELECT label,
             unnest(list_transform(embedding, (x, i) -> i - 1)) AS d,
             unnest(list_transform(embedding,
                    x -> CAST(FLOOR(x::DOUBLE * 1000.0) AS BIGINT))) AS xq
      FROM embeddings
    ), per_dim AS (
      SELECT label, d, CAST(SUM(xq) AS BIGINT) AS sq
      FROM dims GROUP BY label, d
    ), counts AS (
      SELECT label, COUNT(*) AS n_vecs FROM embeddings GROUP BY label
    )
    SELECT p.label, c.n_vecs,
           ROUND(SQRT(CAST(SUM(sq * sq) AS BIGINT)) / (1000.0 * c.n_vecs), 4)
             AS centroid_norm,
           ROUND(MAX(CASE WHEN d = 0 THEN sq END) / (1000.0 * c.n_vecs), 4)
             AS dim0,
           ROUND(MAX(CASE WHEN d = 1 THEN sq END) / (1000.0 * c.n_vecs), 4)
             AS dim1
    FROM per_dim p JOIN counts c ON p.label = c.label
    GROUP BY p.label, c.n_vecs
    ORDER BY p.label
    """,
    tags=("similarity", "centroid"),
)
def sim_group_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (mean pooling) — the building
    block of IVF training, k-means, and class-prototype retrieval.
    Reported per label: member count, centroid L2 norm, and the first
    two centroid coordinates (the full vector is the same arithmetic
    64 times — flattened here for stable cross-engine hashing).

    Exactness across engines: inputs are fixed-point quantized
    (floor(x·1000) as long — quantize_embedding) so every SUM is exact
    integer arithmetic regardless of accumulation order; the only
    float ops are final divisions and one sqrt of an exact integer —
    bit-identical in both engines, then rounded.

    Scale: posexplode → one (label, dim) partial-agg'd shuffle of
    64·n tiny rows → a |labels|-row rollup. No vector ever crosses
    the wire whole; centroid count = |labels|, corpus-independent."""
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label",
        F.posexplode(quantize_embedding(F.col("embedding"))).alias("d", "xq"),
    )
    per_dim = ex.groupBy("label", "d").agg(F.sum("xq").alias("sq"))
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    scale = 1000.0 * F.col("n_vecs")
    return (
        per_dim.groupBy("label")
        .agg(
            F.sum(F.col("sq") * F.col("sq")).alias("ss"),
            F.max(F.when(F.col("d") == 0, F.col("sq"))).alias("s0"),
            F.max(F.when(F.col("d") == 1, F.col("sq"))).alias("s1"),
        )
        .join(F.broadcast(counts), "label")
        .select(
            "label",
            "n_vecs",
            F.round(F.sqrt("ss") / scale, 4).alias("centroid_norm"),
            F.round(F.col("s0") / scale, 4).alias("dim0"),
            F.round(F.col("s1") / scale, 4).alias("dim1"),
        )
        .orderBy("label")
    )


def _bucket_expr_t(qemb_col, t: int):
    """Bucket id in hash table ``t``: same integer hyperplane test as
    `_bucket_expr` with a per-table D-MULTIPLIER in the weight formula
    (w(p,d,t) = ((17p + (31+t)d) mod 7) - 3); table 0 reproduces the
    single-table buckets exactly. The multiplier (not an additive
    offset) is what makes tables independent: an additive constant
    inside the mod only permutes the same 7-element hyperplane family
    across bit positions, yielding identical bucket PARTITIONS in
    every table (measured: zero recall gain)."""
    def weight(p: int):
        return lambda x, d: x * (((F.lit(17 * p) + (31 + t) * d) % 7) - 3)

    bucket = F.lit(0)
    for p in range(N_PLANES):
        dot_p = F.aggregate(
            F.zip_with(
                qemb_col,
                F.sequence(F.lit(0), F.size(qemb_col) - 1),
                weight(p),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot_p >= 0, F.lit(2**p)).otherwise(0)
    return bucket


@query(
    "sim_lsh_multitable_topk",
    oracle=f"""
    WITH dims AS (
      SELECT vec_id, d,
             CAST(FLOOR(embedding[d + 1]::DOUBLE * 1000.0) AS BIGINT) AS x
      FROM embeddings, range(64) t(d)
    ), planes AS (
      SELECT vec_id, t, p,
             SUM(x * (((17 * p + (31 + t) * d) % 7) - 3)) AS dot_p
      FROM dims, range({N_PLANES}) u(p), range({N_TABLES}) v(t)
      GROUP BY vec_id, t, p
    ), buckets AS (
      SELECT vec_id, t,
             CAST(SUM(CASE WHEN dot_p >= 0 THEN POWER(2, p)::BIGINT ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM planes GROUP BY vec_id, t
    ), q AS (
      SELECT b.vec_id AS query_id, e.embedding AS qe, b.t, b.bucket
      FROM buckets b JOIN embeddings e ON e.vec_id = b.vec_id
      WHERE b.vec_id % 50 = 0 AND b.vec_id < 2000
    ), cands AS (
      SELECT DISTINCT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) AS sim
      FROM q
      JOIN buckets b ON b.t = q.t AND b.bucket = q.bucket
      JOIN embeddings e ON e.vec_id = b.vec_id
      WHERE e.vec_id <> q.query_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
      FROM cands
    )
    SELECT query_id, neighbor_id, sim, rn
    FROM ranked WHERE rn <= 3
    ORDER BY query_id, rn
    """,
    tags=("similarity", "lsh", "ann"),
)
def sim_lsh_multitable_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table hyperplane LSH — the recall knob SCALE.md's audit
    identifies as the fix for single-table LSH on unclustered data:
    {N_TABLES} independent 8-plane tables, candidates = union of
    same-bucket pairs across tables (dedup'd), then exact cosine
    re-rank. P(candidate) rises from p^8 to 1-(1-p^8)^{N_TABLES} at
    {N_TABLES}× the bucket-join cost — measured at sf0.1 this lifts
    recall@3 from 0.042 (single table) to 0.100 (2.4×); production
    tunes tables/planes to the recall target.

    Plan shape: all {N_TABLES} bucket ids compute in ONE pass over the
    corpus (no per-table re-scan), unpivot to (vec_id, t, bucket), one
    equi-join on (t, bucket) against the broadcast query side, distinct
    on the candidate pair before the re-rank so no vector is scored
    twice."""
    emb = table(spark, sf_dir, "embeddings")
    qemb = quantize_embedding(F.col("embedding"))
    buckets_arr = F.array(
        *[_bucket_expr_t(F.col("qemb"), t).cast("long") for t in range(N_TABLES)]
    )
    # Corpus-side buckets via the rows×tables-routed pass (round-16,
    # guide §4.2): above the crossover all {N_TABLES}×{N_PLANES}
    # hyperplane tests evaluate as one integer matmul per batch; the
    # 40-row query side keeps the HOF array — identical integers
    # either way (kernel docstring).
    bucketed = _corpus_bucketed(
        emb, corpus_rows(sf_dir, "embeddings"), N_TABLES
    ).select("vec_id", "embedding", F.posexplode("_bkts").alias("t", "bucket"))
    # Same query-side pruning as sim_lsh_ann_topk: bucket the 1/50
    # sample directly instead of re-running the corpus bucket pass on
    # the broadcast side.
    q = (
        emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2000))
        .withColumn("qemb", quantize_embedding(F.col("embedding")))
        .withColumn("_bkts", buckets_arr)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.posexplode("_bkts").alias("qt", "qbucket"),
        )
    )
    # Score BEFORE the dedup exchange (VERDICT r16 #8, guide §2.3
    # "shuffle keys and metadata instead of payloads"): the round-13
    # shape deduped first so each pair was scored once, but that
    # carried BOTH 64-dim vectors (~1 KB/row) through the
    # dropDuplicates exchange — at scale the candidate shuffle is the
    # dominant byte mover. The cosine over quantized ints is cheap and
    # map-side; evaluating it per colliding table (≤ {N_TABLES}× per
    # pair, before the exchange) and shuffling only
    # (query_id, neighbor_id, sim) cuts exchange bytes ~30×.
    # Value-identical: sim is a deterministic function of the pair
    # (vec_id → embedding is unique), so every duplicate row carries
    # the same sim and dropDuplicates keeps the same value.
    cands = _scored(
        bucketed.join(
            F.broadcast(q),
            (F.col("t") == F.col("qt")) & (F.col("bucket") == F.col("qbucket")),
        )
    ).dropDuplicates(["query_id", "neighbor_id"])
    return _top_n(cands, 3)


# ---------------------------------------------------------------------------
# Distributed k-means (Lloyd refinement) — the training loop IVF skips.
# One Lloyd iteration = slice-replicated BLAS assignment (`_assign_blas`
# — exact integer distances, no corpus-scale shuffle) + a K×64-cell
# re-centering agg (map-side combinable). Everything runs on quantized integers except the mean,
# which is re-quantized by floor(S/n) — S is an exact long, S/n a double
# division of exactly-representable operands, so both engines floor the
# identical value. Empty cells (a centroid that attracts no vectors)
# drop out, shrinking K — the standard Lloyd behavior, applied
# identically in the oracle.
# ---------------------------------------------------------------------------


def _lloyd_round(
    vecs: DataFrame,
    cents: DataFrame,
    dims: int = EMBED_DIMS,
    *,
    n_rows: int,
    k: int,
) -> DataFrame:
    """One Lloyd re-centering over (vec_id, qemb) vectors, re-quantized
    floor(S/n). Returns the refined centroid table (cent_id, n, cemb).
    ``dims`` defaults to the catalog embeddings width; callers
    training over other vector tables (the streaming vector index)
    pass their own.

    Two value-identical physical shapes, routed by ``n_rows`` × ``k``
    (`_assign_in_jvm`, the `_assign_blas` crossover):

    * small — the all-JVM projection assignment feeds a row-level
      ``dims``-column hash agg (map-side partials); no Python pass.
    * large — the fused assign+partial-recenter kernel
      (`_assign_partials`) emits per-(slice, cell) member counts and
      int64 coordinate sums, so the post-kernel shuffle carries
      ≤ slices×K tiny rows at ANY corpus size (guide §2.3: aggregate
      before you shuffle) and nothing corpus-sized crosses Arrow.

    Both branches sum exact int64s, so floor(Σs/Σn) is bit-identical."""
    # The per-dimension sums build as ONE sql-string expression, not
    # ``dims`` composed Column objects (round-17, guide §7.3 "avoid
    # generating gigantic expression trees in loops"): the Column form
    # cost ~4 py4j round-trips per dimension per round — measured
    # ~1.4 s of pure DRIVER time per Lloyd round at dims=64, more than
    # the round's whole cluster execution. The aggregation plan is
    # identical (same ``dims`` sum aggregates, array-wrapped in the
    # post-agg projection); the re-quantization becomes a K-row
    # ``transform`` whose `x / n` is the same bigint÷bigint → double
    # Divide — outputs bit-identical (oracle-pinned at both small SFs).
    if _assign_in_jvm(n_rows, k):
        a1 = _assign_jvm(vecs, cents)
        sums = a1.groupBy("cent_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "array("
                + ",".join(f"sum(qemb[{d}])" for d in range(dims))
                + ")"
            ).alias("s"),
        )
    else:
        parts = _assign_partials(vecs, cents, n_rows=n_rows, k=k)
        sums = parts.groupBy("cent_id").agg(
            F.sum("n").alias("n"),
            F.expr(
                "array("
                + ",".join(f"sum(s[{d}])" for d in range(dims))
                + ")"
            ).alias("s"),
        )
    return sums.select(
        "cent_id",
        "n",
        F.expr("transform(s, x -> CAST(FLOOR(x / n) AS BIGINT))").alias(
            "cemb"
        ),
    )


# Shared oracle CTE — one Lloyd round over the IVF seed centroids:
# quantized vectors (qv, embedding carried through), seed centroids
# (cents0), first assignment (a1), integer re-centering (newc), and the
# induced re-assignment (a2, with the raw embedding for downstream
# re-ranking). sim_kmeans_lloyd reports the round's counts/shift;
# sim_ivf_refined_topk serves ANN from the refined cells.
_LLOYD_CTE = f"""
    qv AS (
      SELECT vec_id, embedding,
             list_transform(embedding,
                            x -> CAST(FLOOR(x::DOUBLE * 1000.0) AS BIGINT)) AS qemb
      FROM embeddings
    ), cents0 AS (
      SELECT vec_id AS cent_id, qemb AS cemb FROM qv
      ORDER BY {_CENT_HASH_SQL}, vec_id
      LIMIT {N_CENTROIDS}
    ), d1 AS (
      SELECT qv.vec_id, qv.qemb, c.cent_id,
             CAST(list_sum(list_transform(qv.qemb,
                    (x, i) -> (x - c.cemb[i]) * (x - c.cemb[i])))
                  AS BIGINT) AS dist
      FROM qv, cents0 c
    ), a1 AS (
      SELECT vec_id, qemb, cent_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cent_id) AS rn
            FROM d1)
      WHERE rn = 1
    ), dims AS (
      SELECT cent_id, d, qemb[d + 1] AS x FROM a1, range({EMBED_DIMS}) t(d)
    ), sums AS (
      SELECT cent_id, d, CAST(SUM(x) AS BIGINT) AS s
      FROM dims GROUP BY cent_id, d
    ), counts AS (
      SELECT cent_id, COUNT(*) AS n FROM a1 GROUP BY cent_id
    ), newc AS (
      SELECT s.cent_id, c.n,
             list(CAST(FLOOR(s::DOUBLE / c.n) AS BIGINT) ORDER BY d) AS cemb
      FROM sums s JOIN counts c ON s.cent_id = c.cent_id
      GROUP BY s.cent_id, c.n
    ), d2 AS (
      SELECT qv.vec_id, qv.embedding, nc.cent_id,
             CAST(list_sum(list_transform(qv.qemb,
                    (x, i) -> (x - nc.cemb[i]) * (x - nc.cemb[i])))
                  AS BIGINT) AS dist
      FROM qv, newc nc
    ), a2 AS (
      SELECT vec_id, embedding, cent_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cent_id) AS rn
            FROM d2)
      WHERE rn = 1
    )
"""


@query(
    "sim_kmeans_lloyd",
    oracle=f"""
    WITH {_LLOYD_CTE}, c2 AS (
      SELECT cent_id, COUNT(*) AS n2 FROM a2 GROUP BY cent_id
    )
    SELECT nc.cent_id, nc.n AS n_iter1, COALESCE(c2.n2, 0) AS n_iter2,
           CAST(list_sum(list_transform(c0.cemb,
                  (x, i) -> (x - nc.cemb[i]) * (x - nc.cemb[i])))
                AS BIGINT) AS shift,
           nc.cemb[1] AS c0, nc.cemb[2] AS c1
    FROM newc nc
    JOIN cents0 c0 ON nc.cent_id = c0.cent_id
    LEFT JOIN c2 ON nc.cent_id = c2.cent_id
    ORDER BY nc.cent_id
    """,
    tags=("similarity", "kmeans", "iterative"),
)
def sim_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full Lloyd refinement of the IVF seed centroids, then the
    re-assignment it induces: seed K centroids (the deterministic
    hash-sample `_centroids` uses), assign every vector (iteration 1),
    re-center each cell at the member mean, re-assign (iteration 2).
    Reported per surviving cell: member counts before/after, the
    squared-L2 the centroid moved (integer — the convergence metric a
    full k-means loop would threshold on), and the first two centroid
    coordinates.

    Exactness: assignment and shift are all-integer; the only division
    is the mean, re-quantized as floor(S/n) where S is an exact long
    and S/n divides exactly-representable doubles — bit-identical in
    both engines.

    Scale: per iteration, the corpus never joins or shuffles at scale —
    centroids replicate to the corpus slices (K rows each), assignment
    is the exact-integer BLAS kernel, and re-centering aggregates K·{EMBED_DIMS} partial sums via 64 column
    expressions (no posexplode row blow-up). Iterations are a driver
    loop over K-row DataFrames; corpus passes = 2 per iteration, the
    textbook distributed-Lloyd layout."""
    emb = table(spark, sf_dir, "embeddings")
    n = corpus_rows(sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", quantize_embedding(F.col("embedding")).alias("qemb")
    )
    # K-row loop state materializes eagerly (the `lloyd_train`
    # checkpoint discipline): cents0 feeds the assignment, the report
    # join, and newc's own build; newc feeds c2 and the report join.
    # Left lazy, each consumer re-executes the full corpus-scale
    # subtree (ReuseExchange does not fire across the differently-
    # shaped consumers) — measured ~2 redundant corpus passes per run
    # at sf0.1 (round-16, guide §5.3: checkpoint tiny reused state).
    cents0 = _centroids(emb).localCheckpoint(eager=True)
    newc = _lloyd_round(
        vecs, cents0, n_rows=n, k=N_CENTROIDS
    ).localCheckpoint(eager=True)
    # Induced-assignment histogram, routed like `_lloyd_round`
    # (round-16, guide §2.3/§4.4): only per-cell COUNTS are needed, so
    # above the crossover the corpus-row Arrow return + count aggregate
    # collapse to a sum over slices×K partial rows; below it the
    # all-JVM assignment feeds a plain hash count.
    if _assign_in_jvm(n, N_CENTROIDS):
        c2 = (
            _assign_jvm(vecs, newc.select("cent_id", "cemb"))
            .groupBy("cent_id")
            .agg(F.count(F.lit(1)).alias("n2"))
        )
    else:
        c2 = (
            _assign_partials(
                vecs, newc.select("cent_id", "cemb"), n_rows=n, k=N_CENTROIDS
            )
            .groupBy("cent_id")
            .agg(F.sum("n").alias("n2"))
        )
    shift = F.aggregate(
        F.zip_with("cemb0", "cemb", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        newc.join(
            cents0.select("cent_id", F.col("cemb").alias("cemb0")), "cent_id"
        )
        .join(c2, "cent_id", "left")
        .select(
            "cent_id",
            F.col("n").alias("n_iter1"),
            F.coalesce(F.col("n2"), F.lit(0)).cast("long").alias("n_iter2"),
            shift.alias("shift"),
            F.col("cemb")[0].alias("c0"),
            F.col("cemb")[1].alias("c1"),
        )
        .orderBy("cent_id")
    )


@query(
    "sim_ivf_refined_topk",
    oracle=f"""
    WITH {_LLOYD_CTE}, q AS (
      SELECT vec_id AS query_id, embedding AS qe, cent_id
      FROM a2 WHERE vec_id % 50 = 0 AND vec_id < 2000
    ), cands AS (
      SELECT q.query_id, a.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(a.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) AS sim
      FROM q JOIN a2 a ON a.cent_id = q.cent_id AND a.vec_id <> q.query_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
      FROM cands
    )
    SELECT query_id, neighbor_id, sim, rn
    FROM ranked WHERE rn <= 3
    ORDER BY query_id, rn
    """,
    tags=("similarity", "ann", "kmeans"),
)
def sim_ivf_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN served from LLOYD-REFINED cells: one training round
    (`_lloyd_round`) re-centers the hash-sampled seed centroids at
    their members' means, the corpus re-assigns, and the ANN probe
    (same fixed query budget and top-3 shape as sim_ivf_ann_topk)
    searches the refined cell — the "train the index" step production
    IVF always runs, quantified against the untrained variant by the
    recall audit pattern. Refined cells sit at actual data centroids,
    so same-cell neighbors are nearer and recall at equal probe cost
    dominates the seed-centroid index on clustered data.

    Scale: training adds ONE corpus pass (the BLAS assignment + the
    {EMBED_DIMS}-column re-centering agg); serving cost is identical
    to sim_ivf_ann_topk. The centroid table stays K rows end to end."""
    emb = table(spark, sf_dir, "embeddings")
    n = corpus_rows(sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id",
        "embedding",
        quantize_embedding(F.col("embedding")).alias("qemb"),
    )
    # The K-row refined table feeds BOTH the corpus assignment and the
    # probe ranks; eager checkpoint runs its training corpus pass once
    # instead of once per consumer (guide §5.3, same rationale as
    # sim_kmeans_lloyd).
    refined = (
        _lloyd_round(
            vecs.select("vec_id", "qemb"),
            _centroids(emb),
            n_rows=n,
            k=N_CENTROIDS,
        )
        .select("cent_id", "cemb")
        .localCheckpoint(eager=True)
    )
    # Seed K bounds the refined cell count (Lloyd only drops cells), so
    # it sizes both consumers with no extra count job.
    assigned = _assign_blas(
        vecs, refined, out_cols=["vec_id", "embedding"], n_rows=n, k=N_CENTROIDS
    ).select("vec_id", "embedding", "cent_id")
    # Query cells via the JVM sample kernel instead of filtering
    # ``assigned`` (round-16, guide §2.4): the broadcast q branch
    # re-executed the corpus-wide Python assignment per serve; the
    # 40-row argmin against the same refined centroids is identical
    # by construction and leaves ``assigned`` with a single consumer.
    q = _probe_ranks(_sample_filter(vecs), refined, k=N_CENTROIDS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("cent_id").alias("qcell"),
    )
    return _top_n(
        _scored(
            assigned.join(F.broadcast(q), F.col("cent_id") == F.col("qcell"))
        ),
        3,
    )


# Crossover between the all-JVM projection assignment and the
# cogrouped BLAS kernel, in row·cells (corpus rows × centroid count).
# The cogroup path pays two Exchanges + an Arrow round-trip of fixed
# ~0.6 s wall at 32 local cores; the JVM HOF costs ~0.12 s per 400k
# row·cells (interleaved A/B at sf0.1, 7 rounds, same session:
# 20k×20 → JVM 0.22 s vs kernel 0.71 s; the sf10 Lloyd loop at
# 200k×448 = 90M row·cells measured ~20× FOR the kernel). Crossover
# ≈ 2M row·cells — derived from corpus rowcount × K, not a local
# constant, so big corpora keep the BLAS plan.
_ASSIGN_JVM_MAX_ROW_CELLS = 2_000_000


def _assign_in_jvm(n_rows: int, k: int) -> bool:
    """The one JVM-vs-kernel routing rule for assignment passes:
    ``n_rows`` input rows (or a bound) against ``k`` centroid rows (or
    a bound) at most `_ASSIGN_JVM_MAX_ROW_CELLS` row·cells stay in the
    all-JVM projection; larger passes take the cogrouped kernel."""
    return n_rows * k <= _ASSIGN_JVM_MAX_ROW_CELLS


# Cogrouped-kernel slice sizing (round-17, guide §2.5/§4.2): a fixed
# slice count is wrong at both ends — a ≤40-row probe sample paid 64
# Arrow round-trips, and a 10^9-row corpus hit a 64-task ceiling with
# rows/64 × K distance-matrix cells per slice (an OOM, not a
# slowdown). Every kernel pass is therefore sized from two required
# ints, ``n_rows`` input rows and ``k`` centroid/codeword rows (each
# exact or an upper bound: parquet-footer counts, derived K, the
# query-sample budget, a checkpointed micro-batch count), whose
# product is the pass's distance-matrix cells:
#
# * parallelize by COMPUTE, one slice per `_KERNEL_FILL_CELLS` cells,
#   capped at the core count — measured optimum across a
#   {1..128}-slice sweep at sf0.1 AND sf1 (OPTIMIZATION_r17.md): heavy
#   kernels (PQ8: 256 codes) fill the cores, light ones (PQ4 at 2k
#   rows: 32k cells) run 1-4 slices because task+Arrow overhead beats
#   the parallel gain below that;
# * grow PAST the core count only when a slice would otherwise
#   exceed `_KERNEL_SLICE_ROWS` rows (Arrow batch bound) or
#   `_KERNEL_MAX_SLICE_CELLS` cells (~256 MB of float64 — the §5
#   per-task state bound; at 10^9 rows × K=√n this is what forces
#   ~10^6 slices instead of 64 OOM-sized ones).
_KERNEL_SLICE_ROWS = 8_192
_KERNEL_MAX_SLICE_CELLS = 32_000_000
_KERNEL_FILL_CELLS = 32_768


def _kernel_slices(n_rows: int, k: int, cores: int) -> int:
    """Slice count for one cogrouped corpus×(centroids|codebook) kernel
    pass over ``n_rows`` input rows and ``k`` table rows on ``cores``
    (the session's defaultParallelism)."""
    import math

    cells = n_rows * k
    # hard lower bounds: Arrow batch size and per-slice matrix memory
    need = max(
        math.ceil(n_rows / _KERNEL_SLICE_ROWS),
        math.ceil(cells / _KERNEL_MAX_SLICE_CELLS),
    )
    # fill the cores in proportion to the compute on the table
    fill = min(cores, math.ceil(cells / _KERNEL_FILL_CELLS))
    return max(1, need, fill)


def _cogroup_kernel(
    label: str,
    vecs: DataFrame,
    table: DataFrame,
    body,
    schema: str,
    *,
    n_rows: int,
    k: int,
) -> DataFrame:
    """The one cogrouped-pandas harness behind `_assign_blas`,
    `_assign_partials` and `_pq_encode`: ``vecs`` (carrying
    ``vec_id``) hash-splits into `_kernel_slices` slices on
    pmod(xxhash64(vec_id)), the K-row ``table`` replicates to every
    slice key (K × slices tiny rows — no corpus-scale skew or
    shuffle of the small side), and ``body(vpdf, tpdf)`` runs once per
    slice with every ``vecs`` column plus the slice key ``pk``. A slice
    with no vectors returns no rows; vectors cogrouped with an EMPTY
    table raise (nothing to assign them to — a silent empty assign
    would index-align to NaN and break the bigint schema)."""
    import pandas as pd

    spark = vecs.sparkSession
    n_parts = _kernel_slices(n_rows, k, spark.sparkContext.defaultParallelism)
    v = vecs.select(
        F.pmod(F.xxhash64("vec_id"), F.lit(n_parts)).alias("pk"), *vecs.columns
    )
    t = table.crossJoin(
        F.broadcast(spark.range(n_parts).select(F.col("id").alias("pk")))
    )

    def run(key, vpdf, tpdf):
        if len(vpdf) == 0:
            return pd.DataFrame()
        if len(tpdf) == 0:
            raise ValueError(
                f"{label}: non-empty vector slice cogrouped with an empty "
                "centroid/codebook table (K=0) — nothing to assign to"
            )
        return body(vpdf, tpdf)

    return v.groupBy("pk").cogroup(t.groupBy("pk")).applyInPandas(run, schema)


def _centroid_l2():
    """``l2(X, cpdf) -> (cids, d)``: cent_id-sorted centroid ids and
    the float64 squared-L2 matrix ||x||^2 - 2xC' + ||c||^2 of rows X
    against a (cent_id, cemb) slice table. Every quantized product and
    partial sum stays far below 2^53, so the distances are EXACT
    integers, and the first argmin over the cent_id-sorted columns is
    the (dist, cent_id) tie-break. Built by a factory so the kernels'
    closures ship it by value to Python workers."""
    import numpy as np

    def l2(X, cpdf):
        corder = np.argsort(cpdf["cent_id"].to_numpy())
        cids = cpdf["cent_id"].to_numpy(dtype=np.int64)[corder]
        C = np.array(cpdf["cemb"].to_numpy()[corder].tolist(), dtype=np.float64)
        d = (
            (X * X).sum(axis=1)[:, None]
            - 2.0 * (X @ C.T)
            + (C * C).sum(axis=1)[None, :]
        )
        return cids, d

    return l2


def _assign_jvm(
    vecs: DataFrame,
    cents: DataFrame,
    top_m: int = 1,
    out_cols: list[str] | None = None,
) -> DataFrame:
    """The all-JVM twin of `_assign_blas`: centroids fold to ONE
    broadcast array row and the (dist, cent_id) argmin/argsort runs
    inside a projection — no shuffle, no Python boundary. Distances
    are exact integers in both kernels and the tie-break is identical,
    so outputs are bit-identical (A/B'd exceptAll-empty both ways at
    sf0.1). Cost is |rows|·K·dims interpreted lambda evals (HOFs are
    not codegen'd) — `_assign_blas` routes here by `_assign_in_jvm`.
    ``out_cols`` mirrors `_assign_blas`'s passthrough subset."""
    cols = out_cols if out_cols is not None else vecs.columns
    scored = vecs.crossJoin(F.broadcast(_cent_array(cents)))
    # K=0 raises like the kernel instead of a null cent_id (top_m=1)
    # or a silently dropped row (top_m>1)
    cs = F.when(F.size("cs") > 0, F.col("cs")).otherwise(
        F.raise_error(
            F.lit(
                "_assign_jvm: vectors assigned against an empty centroid "
                "table (K=0) — nothing to assign to"
            )
        )
    )
    if top_m == 1:
        return scored.select(
            *cols,
            F.array_min(_cell_scores(F.col("qemb"), cs))["cent_id"].alias(
                "cent_id"
            ),
        )
    ranked = F.slice(F.array_sort(_cell_scores(F.col("qemb"), cs)), 1, top_m)
    return scored.select(
        *cols, F.posexplode(ranked).alias("_pos", "_s")
    ).select(
        *cols,
        F.col("_s.cent_id").alias("cent_id"),
        (F.col("_pos") + 1).cast("int").alias("cent_rank"),
    )


def _assign_blas(
    vecs: DataFrame,
    cents: DataFrame,
    top_m: int = 1,
    out_cols: list[str] | None = None,
    *,
    n_rows: int,
    k: int,
) -> DataFrame:
    """Lloyd/IVF assignment on the BLAS path: appends ``cent_id`` (the
    nearest centroid by integer squared-L2, ties to lowest cent_id) to
    every input row, computing distances as one vectorized
    ||x||^2 - 2xC' + ||c||^2 per corpus slice (`_centroid_l2`) inside
    the cogrouped-pandas harness (`_cogroup_kernel`) instead of
    K x EMBED_DIMS interpreted HOF lambda evaluations per row (HOFs
    are not codegen'd; measured ~20x at sf10 on the Lloyd loop). The
    float64 distances are exact integers, so the argmin reproduces the
    (dist, cent_id) tie-break bit-for-bit.

    ``vecs`` must carry ``vec_id`` and ``qemb``. Scale: corpus slices
    hash-partition by vec_id and the K-row centroid table replicates
    to every slice, so each task gets (slice, all centroids) — no
    corpus-scale skew, one Arrow round-trip of the vectors.

    ``top_m > 1`` returns the m nearest cells per vector (one row per
    (vector, rank), plus a ``cent_rank`` column, rank 1 = nearest) —
    the multi-assignment SemDeDup needs to catch near-dup pairs that
    straddle a cell boundary. Ordering stays the exact (dist, cent_id)
    tie-break: the stable argsort over cent_id-ascending columns
    reproduces ROW_NUMBER ORDER BY dist, cent_id bit-for-bit.

    ``n_rows`` (input rows, or a bound) and ``k`` (centroid rows, or a
    bound) size the pass: small ones (`_assign_in_jvm`) run the
    all-JVM projection twin — identical integers, no Python boundary
    (round-16, guide §4.4: don't pay a fixed Arrow round-trip to save
    interpreted work smaller than the round-trip) — and the rest run
    the kernel in `_kernel_slices` slices.

    ``out_cols`` names the input columns to CARRY THROUGH (default:
    all). Consumers that drop ``qemb`` right after assignment should
    say so here — the 8·dims bytes/row then never cross the Arrow
    boundary on the way back (guide §4.2: move only the columns the
    kernel's consumers need; top_m>1 would otherwise return them
    top_m times)."""
    if _assign_in_jvm(n_rows, k):
        return _assign_jvm(vecs, cents, top_m=top_m, out_cols=out_cols)
    import numpy as np
    import pandas as pd

    if out_cols is None:
        out_cols = vecs.columns
    by_name = {f.name: f for f in vecs.schema.fields}
    out_schema = ", ".join(
        f"{c} {by_name[c].dataType.simpleString()}" for c in out_cols
    ) + ", cent_id bigint"
    if top_m > 1:
        out_schema += ", cent_rank int"
    l2 = _centroid_l2()

    def assign(vpdf, cpdf):
        cids, d = l2(np.array(vpdf["qemb"].tolist(), dtype=np.float64), cpdf)
        vpdf = vpdf[out_cols]
        if top_m == 1:
            best = cids[np.argmin(d, axis=1)]  # first min = lowest cent_id
            return vpdf.assign(cent_id=best)
        m = min(top_m, len(cids))
        # stable sort: equal distances keep cent_id-ascending order
        order = np.argsort(d, axis=1, kind="stable")[:, :m]
        reps = np.repeat(np.arange(len(vpdf)), m)
        out = vpdf.iloc[reps].reset_index(drop=True)
        return out.assign(
            cent_id=cids[order.ravel()],
            cent_rank=pd.Series(
                np.tile(np.arange(1, m + 1), len(vpdf)), dtype="int32"
            ),
        )

    return _cogroup_kernel(
        "_assign_blas",
        vecs,
        cents.select("cent_id", "cemb"),
        assign,
        out_schema,
        n_rows=n_rows,
        k=k,
    )


def _assign_partials(
    vecs: DataFrame, cents: DataFrame, *, n_rows: int, k: int
) -> DataFrame:
    """Fused Lloyd assign + per-cell PARTIAL re-centering (round-16,
    guide §2.3 "aggregate before you shuffle"): the same exact-integer
    argmin as `_assign_blas`, but instead of returning every assigned
    row through Arrow and hash-aggregating ``dims`` sum columns over
    the corpus, each cogrouped slice emits ONE row per non-empty cell —
    (cent_id, n, s array<bigint>) with the slice's member count and
    per-dimension qemb sums. Downstream Σ over slices is exact int64
    (|qemb| ≤ ~1000·scale, Σ ≪ 2^63), so floor(Σs/Σn) reproduces the
    row-level formula bit-for-bit while the post-kernel shuffle carries
    ≤ slices×K tiny rows at ANY corpus size. Callers that only need
    cell COUNTS (the induced-assignment histogram) sum ``n`` and ignore
    ``s`` — the kernel-side sums cost one bincount/add.at per batch,
    nothing crosses the boundary per corpus row either way.
    ``n_rows``/``k`` size the slice count (`_kernel_slices`)."""
    import numpy as np
    import pandas as pd

    l2 = _centroid_l2()

    def recenter(vpdf, cpdf):
        Xi = np.array(vpdf["qemb"].tolist(), dtype=np.int64)
        cids, d = l2(Xi.astype(np.float64), cpdf)
        best = np.argmin(d, axis=1)  # first min = lowest cent_id
        counts = np.bincount(best, minlength=len(cids))
        sums = np.zeros((len(cids), Xi.shape[1]), dtype=np.int64)
        np.add.at(sums, best, Xi)
        nz = np.nonzero(counts)[0]
        return pd.DataFrame(
            {
                "cent_id": pd.Series(cids[nz], dtype="int64"),
                "n": pd.Series(counts[nz], dtype="int64"),
                "s": pd.Series(sums[nz].tolist(), dtype=object),
            }
        )

    return _cogroup_kernel(
        "_assign_partials",
        vecs.select("vec_id", "qemb"),
        cents.select("cent_id", "cemb"),
        recenter,
        "cent_id bigint, n bigint, s array<bigint>",
        n_rows=n_rows,
        k=k,
    )


def _probe_ranks(
    sample: DataFrame, cents: DataFrame, top_m: int = 1, *, k: int
) -> DataFrame:
    """Cell assignment for a SAMPLE-sized frame (the fixed
    ≤`_QUERY_SAMPLE_MAX_ROWS`-row query budget) against ``k``
    centroid rows (or a bound): `_assign_blas` sized at the sample
    budget, so below the one crossover (`_assign_in_jvm`, K ≤ 50k at
    the 40-row budget) it is a pure JVM projection against the
    ONE-ROW broadcast centroid array — no shuffle, no Python pass —
    and past it the cogrouped BLAS kernel.

    Round-16 optimization (guide §2.4/§4): every serving query used to
    run the full cogrouped-pandas machinery (two exchanges + an Arrow
    round-trip, ~0.6-0.9 s of fixed cost at sf0.1) to assign ≤40 probe
    rows; several consumed the corpus-wide ``a2`` twice (probe side +
    broadcast side), re-executing a corpus-scale Python pass per
    serve. Probe-side work is now O(|sample|·K·dims) inside one
    projection, and the corpus assignment has a single consumer.
    Distances are exact integers in both branches and the tie-break
    is (dist, cent_id) in both, so outputs are bit-identical
    (oracle-pinned per query). Output schema matches `_assign_blas`:
    every input column plus ``cent_id`` (and ``cent_rank`` when
    ``top_m > 1``)."""
    return _assign_blas(
        sample, cents, top_m=top_m, n_rows=_QUERY_SAMPLE_MAX_ROWS, k=k
    )


# ---------------------------------------------------------------------------
# Lloyd to convergence: the n-round driver loop over `_lloyd_round`
# (the oracle-certified per-step spec). Centroid tables are K rows —
# per round the corpus is touched by exactly one BLAS assignment +
# one 64-column re-centering agg; the loop state localCheckpoints so
# lineage stays flat (the graph-fixpoint discipline). Integer-
# quantized centroids make the fixpoint EXACT: once no centroid moves
# and no cell drops, every later round reproduces the same table, so
# the early-stopped loop can replay the remaining trace rows without
# another corpus pass — keeping the registered query's output
# bit-identical to the oracle's fixed-round unrolling.
# ---------------------------------------------------------------------------

LLOYD_TRACE_ROUNDS = 8


def lloyd_train(
    vecs: DataFrame,
    cents0: DataFrame,
    max_rounds: int,
    tol: int = 0,
    pad_trace: bool = False,
    dims: int = EMBED_DIMS,
    *,
    n_rows: int,
):
    """Run Lloyd rounds until the max integer centroid shift is <= tol
    with no cell dropped, or ``max_rounds``. Returns (final centroid
    DataFrame (cent_id, cemb), trace rows [(round, n_cells, max_shift,
    total_shift), ...]). ``pad_trace`` replays the fixpoint row for
    the remaining rounds (only valid — and only done — when tol == 0,
    where fixpoint means bit-identical later rounds). ``n_rows`` (the
    corpus rows, or a bound) and the loop's own exact cell count size
    each round's `_lloyd_round`.

    Per-round action budget (round-17, guide §1.2): the convergence
    shift joins the K-row previous centroids INSIDE the round's
    checkpointed frame, so a round is ONE corpus-pass materialization
    plus one trivial agg-collect over the materialized K rows — the
    old shape paid a third job re-checkpointing cents (newc minus the
    shift column) every round. The (cent_id, cemb, shift) checkpoint
    is still K rows; the loop state is its (cent_id, cemb) projection;
    one final K-row re-checkpoint restores the clean two-column
    contract (and the LogicalRDD root `_unpersist_checkpoint` needs)
    for callers."""
    cents = cents0.select("cent_id", "cemb").localCheckpoint(eager=True)
    prev_backing = cents  # checkpoint whose blocks back the loop state
    did_round = False
    prev_k = cents.count()
    trace: list[tuple] = []
    fixed: tuple | None = None
    shift = F.aggregate(
        F.zip_with(
            F.col("cemb"),
            F.col("prev"),
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    for rnd in range(1, max_rounds + 1):
        if fixed is not None:
            trace.append((rnd, *fixed))
            continue
        newc = (
            _lloyd_round(vecs, cents, dims=dims, n_rows=n_rows, k=prev_k)
            .join(
                F.broadcast(
                    cents.select("cent_id", F.col("cemb").alias("prev"))
                ),
                "cent_id",
            )
            .select("cent_id", "cemb", shift.alias("shift"))
            .localCheckpoint(eager=True)
        )
        stats = newc.agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.max("shift").alias("max_shift"),
            F.sum("shift").alias("total_shift"),
        ).collect()[0]  # k-bounded collect: one scalar stats row/round
        n_cells = int(stats["n_cells"])
        max_shift = stats["max_shift"]
        trace.append(
            (rnd, n_cells, max_shift, stats["total_shift"])
        )
        converged = n_cells == prev_k and (
            max_shift is None or max_shift <= tol
        )
        # the superseded previous round is dead once the new checkpoint
        # materializes — free its blocks instead of accumulating one
        # K-row generation per round for the life of the process
        # (round 14); the loop state is a projection of the fresh one.
        _unpersist_checkpoint(prev_backing)
        prev_backing = newc
        did_round = True
        cents = newc.select("cent_id", "cemb")
        prev_k = n_cells
        if converged:
            if not pad_trace:
                break
            if tol == 0:
                fixed = (n_cells, max_shift, stats["total_shift"])
    if did_round:
        # Clean-contract re-checkpoint: ONE extra K-row job per whole
        # training run (vs one per round before), giving callers a
        # two-column LogicalRDD they can release via
        # `_unpersist_checkpoint`; the shift-carrying round checkpoint
        # frees here.
        cents = cents.localCheckpoint(eager=True)
        _unpersist_checkpoint(prev_backing)
    return cents, trace


def _lloyd_trace_oracle(rounds: int) -> str:
    """DuckDB twin of the padded trace: ``rounds`` unrolled Lloyd
    steps (MATERIALIZED — each round is referenced by the next AND by
    its trace row; inlining would double the tree per round)."""
    ctes = [
        f"""qv AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
                            x -> CAST(FLOOR(x::DOUBLE * 1000.0) AS BIGINT)) AS qemb
      FROM embeddings
    )""",
        f"""c0 AS MATERIALIZED (
      SELECT vec_id AS cent_id, qemb AS cemb FROM qv
      ORDER BY {_CENT_HASH_SQL}, vec_id
      LIMIT {N_CENTROIDS}
    )""",
    ]
    selects = []
    for r in range(1, rounds + 1):
        p = f"c{r - 1}"
        ctes.append(
            f"""d{r} AS MATERIALIZED (
      SELECT qv.vec_id, qv.qemb, c.cent_id,
             CAST(list_sum(list_transform(qv.qemb,
                    (x, i) -> (x - c.cemb[i]) * (x - c.cemb[i])))
                  AS BIGINT) AS dist
      FROM qv, {p} c
    )""")
        ctes.append(
            f"""a{r} AS MATERIALIZED (
      SELECT vec_id, qemb, cent_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cent_id) AS rn
            FROM d{r})
      WHERE rn = 1
    )""")
        ctes.append(
            f"""c{r} AS MATERIALIZED (
      SELECT s.cent_id,
             list(CAST(FLOOR(s::DOUBLE / c.n) AS BIGINT) ORDER BY d) AS cemb
      FROM (SELECT cent_id, d, CAST(SUM(qemb[d + 1]) AS BIGINT) AS s
            FROM a{r}, range({EMBED_DIMS}) t(d) GROUP BY cent_id, d) s
      JOIN (SELECT cent_id, COUNT(*) AS n FROM a{r} GROUP BY cent_id) c
        ON s.cent_id = c.cent_id
      GROUP BY s.cent_id, c.n
    )""")
        ctes.append(
            f"""t{r} AS MATERIALIZED (
      SELECT {r} AS round, COUNT(*) AS n_cells,
             MAX(shift) AS max_shift,
             CAST(SUM(shift) AS BIGINT) AS total_shift
      FROM (SELECT CAST(list_sum(list_transform(n.cemb,
                     (x, i) -> (x - p.cemb[i]) * (x - p.cemb[i])))
                   AS BIGINT) AS shift
            FROM c{r} n JOIN {p} p USING (cent_id))
    )""")
        selects.append(f"SELECT * FROM t{r}")
    return (
        "WITH " + ",\n".join(ctes) + "\n"
        + "\nUNION ALL ".join(selects)
        + "\nORDER BY round"
    )


@query(
    "sim_kmeans_converged",
    oracle=_lloyd_trace_oracle(LLOYD_TRACE_ROUNDS),
    tags=("similarity", "kmeans", "iterative"),
)
def sim_kmeans_converged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means run to CONVERGENCE: {LLOYD_TRACE_ROUNDS} rounds
    of the oracle-certified per-step spec (`_lloyd_round`), reported
    as a convergence trace — per round, surviving cell count and the
    max/total integer squared-L2 the centroids moved. The driver loop
    stops doing corpus passes at the exact fixpoint (max_shift = 0, no
    cell dropped — exact because centroids are integer-quantized) and
    replays the fixpoint row for the remaining rounds, which is
    bit-identical to the oracle's full unrolling by the fixpoint
    property.

    Scale: per round = one broadcast-K BLAS assignment (the corpus
    never shuffles) + one {EMBED_DIMS}-column map-side-combinable agg;
    loop state is the K-row centroid table, localCheckpointed so
    lineage stays flat. One scalar row crosses the wire per round —
    the same driver-fixpoint discipline as graph components. Training
    to convergence is what production IVF/SemDeDup index builds run;
    `sim_kmeans_lloyd` remains the single-step spec."""
    emb = table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", quantize_embedding(F.col("embedding")).alias("qemb")
    )
    n = corpus_rows(sf_dir, "embeddings")
    cents, trace = lloyd_train(
        vecs,
        _centroids(emb),
        LLOYD_TRACE_ROUNDS,
        tol=0,
        pad_trace=True,
        n_rows=n,
    )
    # trace rows are plain tuples — the final centroid checkpoint is
    # unconsumed here, so release it rather than pin it per call
    _unpersist_checkpoint(cents)
    return spark.createDataFrame(
        trace, "round int, n_cells bigint, max_shift bigint, total_shift bigint"
    ).orderBy("round")


# ---------------------------------------------------------------------------
# The production index build, end to end: corpus-derived K, Lloyd-
# TRAINED centroids, top-2 multi-assignment, one-cell probe. This is
# the composition the SCALE.md round-8 recall analysis prescribes:
# recall is tuned by nprobe × top-m at a FIXED ~sqrt(n) cell size,
# with training aligning cells to the data instead of growing them.
# ---------------------------------------------------------------------------



def _sample_filter(df: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """The shared fixed query budget (`_QUERY_SAMPLE_SQL` on
    ``id_col``)."""
    return df.filter(
        (F.col(id_col) % _QUERY_SAMPLE_STRIDE == 0)
        & (F.col(id_col) < _QUERY_SAMPLE_BOUND)
    )


# ---------------------------------------------------------------------------
# Train-once / serve-many memo registry (rounds 13-14). One GROUP per
# (owning SparkSession, sf_dir) holds the trained derived-K index and
# every residual IVFADC build for that corpus generation; the group is
# generation-checked on the corpus content fingerprint and the whole
# registry is LRU-bounded. Eviction is generation-ATOMIC: the residual
# builds lazily reference the trained build's centroid checkpoint
# (identical seeds/rounds by design), so dropping the trained half
# while a residual half lives would truncate lineage under it —
# releases always unpersist the full group (verdict r13 #3).
#
# Keys hold the SparkSession OBJECT, not its applicationId: two
# sessions of one application (the driver pattern catalog.py
# documents) own distinct plan/conf state, and a frame built under one
# must not serve the other (ADVICE r13).
# ---------------------------------------------------------------------------

_ANN_MEMO: dict = {}  # (SparkSession, sf_dir) -> group dict
_ANN_MEMO_MAX_GROUPS = 4


def _unpersist_checkpoint(df) -> None:
    """Best-effort release of one eager localCheckpoint's blocks: only
    frames whose WHOLE plan is the checkpoint (analyzed plan is a
    LogicalRDD root) are touched — lazy plans that merely reference a
    shared checkpoint pass through untouched, so a caller can walk a
    mixed frame tuple without truncating lineage someone else owns."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
    except Exception:
        pass  # stopped session / already released — nothing to free


def _ann_memo_release(grp: dict) -> None:
    """Unpersist every checkpoint a memo group pins (K-row centroids,
    subs x codes codebooks). The group's frames must not be served
    after this — localCheckpoint lineage is truncated, so the blocks
    are the only copy."""
    frames = list((grp.get("trained") or ())[:3])  # (qemb, cents, a2), K
    for tup in grp.get("residual", {}).values():
        frames.extend(tup)
    for df in frames:
        _unpersist_checkpoint(df)


def _ann_memo_group(spark: SparkSession, sf_dir: str) -> dict:
    """The live memo group for (session, corpus): fingerprint-checked
    (a regenerated corpus releases the superseded generation's
    checkpoints and starts fresh), LRU-ordered (hit moves to the
    back), bounded at _ANN_MEMO_MAX_GROUPS groups process-wide.

    HANDLE LIFETIME CONTRACT (ADVICE r14): eviction — LRU overflow
    or a fingerprint-generation miss — unpersists the group's
    localCheckpoint blocks, the ONLY copy of those frames' data, so
    any frame previously returned by `_trained_index` /
    `_residual_index` for the evicted (session, corpus) fails on its
    next action. Callers must re-request frames from the memo per
    query (every in-repo caller does — those two functions are the
    sole entry points and each serve re-enters them) and must NOT
    hold returned frames across corpus regenerations or across
    touching more than _ANN_MEMO_MAX_GROUPS other corpora. Same
    invalidation rule as a closed file handle; refcounting live
    handles was considered and rejected — it would pin superseded
    generations' checkpoints for as long as any stale reference
    leaks, turning a bounded cache into an unbounded one."""
    from wikid_spark.catalog import corpus_fingerprint

    import os as _os

    fp = corpus_fingerprint(sf_dir, "embeddings")
    # abspath the dir so "./sf0.01" and its absolute form share one
    # group (the _ensure_persisted_index key discipline)
    key = (spark, _os.path.abspath(sf_dir))
    grp = _ANN_MEMO.pop(key, None)  # pop + reinsert = LRU move-to-back
    if grp is not None and grp["fp"] != fp:
        _ann_memo_release(grp)
        grp = None
    if grp is None:
        grp = {"fp": fp, "trained": None, "residual": {}}
    _ANN_MEMO[key] = grp
    while len(_ANN_MEMO) > _ANN_MEMO_MAX_GROUPS:
        _ann_memo_release(_ANN_MEMO.pop(next(iter(_ANN_MEMO))))
    return grp


def _drop_ann_memos() -> None:
    """Release every memoized build (tests / ops seam): the next
    trained query retrains from scratch."""
    for grp in _ANN_MEMO.values():
        _ann_memo_release(grp)
    _ANN_MEMO.clear()


def _trained_index(spark: SparkSession, sf_dir: str):
    """Build the production index ONCE: derived-K seeds,
    TRAINED_DERIVED_ROUNDS Lloyd rounds, top-2 corpus assignment.
    Returns (qemb, cents, a2, k) so every probe depth — and the recall
    report, which audits three depths — shares one training run
    instead of re-training per method; ``k`` is the derived seed K,
    which bounds the trained cell count (Lloyd only drops cells) and
    sizes every probe.

    Memoized through `_ann_memo_group` (session + sf_dir key,
    fingerprint generation check, LRU bound, eviction unpersists):
    in a serving process every trained-family query reuses the one
    training run — the same train-once/serve-many discipline as the
    persisted-index handle cache, minus the disk. Only the K-row
    centroid table is materialized (inside `lloyd_train`); the
    corpus-wide frames (qemb, a2) stay LAZY plans, so nothing
    corpus-sized is pinned to executor storage and each serve still
    pays exactly its one corpus pass. A regenerated corpus changes the
    fingerprint and retrains (the r12 cache-key discipline). The
    returned frames follow `_ann_memo_group`'s handle-lifetime
    contract: invalidated by any later memo eviction — re-request per
    query, never hold across corpus switches."""
    grp = _ann_memo_group(spark, sf_dir)
    if grp["trained"] is not None:
        return grp["trained"]
    emb = table(spark, sf_dir, "embeddings")
    n = corpus_rows(sf_dir, "embeddings")
    k = derived_k(n)
    qemb = emb.select(
        "vec_id",
        "embedding",
        quantize_embedding(F.col("embedding")).alias("qemb"),
    )
    cents, _ = lloyd_train(
        qemb.select("vec_id", "qemb"),
        _centroids(emb, k),
        max_rounds=TRAINED_DERIVED_ROUNDS,
        tol=0,
        n_rows=n,
    )
    a2 = _assign_blas(
        qemb,
        cents,
        top_m=2,
        out_cols=["vec_id", "embedding"],
        n_rows=n,
        k=k,
    ).select("vec_id", "embedding", "cent_id", "cent_rank")
    grp["trained"] = (qemb, cents, a2, k)
    return grp["trained"]


def _trained_probe_topk(
    qemb: DataFrame, cents: DataFrame, a2: DataFrame, k: int, nprobes
) -> dict[int, DataFrame]:
    """Serve top-3 from the trained top-2 index at every probe depth in
    ``nprobes``; returns {depth: frame}. The SAMPLE (≤40 rows) ranks
    against the K centroids at max(nprobes) — probe rows stay
    ~nprobe·sqrt(n), the sub-linear budget. Candidates de-duplicate
    across probes at depth > 1 (a neighbor indexed in two cells can
    match two probes; sim is a deterministic double per pair, so
    DISTINCT is exact).

    Several depths share ONE corpus candidate pass (the recall
    report's cost bound): the probe RANK rides the candidates, the
    join + exact cosine materializes once (localCheckpointed — one
    branch per depth would otherwise re-run the corpus join), and
    depth d is the prank <= d rows — exactly the candidate set the
    one-depth plan probes. A one-depth call plans neither, so every
    registered query keeps its certified plan."""
    # Probe assignment runs as the JVM sample kernel (`_probe_ranks`)
    # at every depth: the nprobe=1 branch used to re-read ``a2`` (a
    # second corpus-wide Python assign per serve), deeper probes used
    # to push 40 rows through the cogrouped kernel's exchanges. The
    # nprobe=1 cell equals a2's cent_rank=1 row by construction (same
    # centroids, same exact-integer argmin).
    shared = len(nprobes) > 1
    rank = ("prank",) if shared else ()
    probes = _probe_ranks(
        _sample_filter(qemb), cents, top_m=max(nprobes), k=k
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("cent_id").alias("pcell"),
        *([F.col("cent_rank").alias("prank")] if shared else []),
    )
    cands = _scored(
        a2.join(F.broadcast(probes), F.col("cent_id") == F.col("pcell")),
        keep=rank,
    )
    if shared:
        cands = cands.localCheckpoint(eager=False)
    out = {}
    for d in nprobes:
        c = cands.filter(F.col("prank") <= d).drop("prank") if shared else cands
        out[d] = _top_n(c.distinct() if d > 1 else c, 3)
    return out


@query(
    "sim_ivf_trained_derived_topk",
    oracle=_lloyd_derived_oracle(TRAINED_DERIVED_ROUNDS),
    tags=("similarity", "ivf", "ann", "derived-k", "kmeans"),
)
def sim_ivf_trained_derived_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production ANN index build: K = ceil(sqrt(n)) seeds,
    {TRAINED_DERIVED_ROUNDS} Lloyd training rounds (`lloyd_train` —
    early-stops at the exact fixpoint, which is output-identical to
    the oracle's fixed unrolling), TOP-2 assignment of the corpus to
    the trained centroids, and the one-cell probe. Everything the
    round-8 ANN work composes: training aligns ~sqrt(n)-row cells to
    the data; multi-assignment widens recall at unchanged probe cost.
    `sim_ivf_trained_nprobe{{2,4}}_topk` are the recall dial over the
    SAME index.

    Scale: training adds {TRAINED_DERIVED_ROUNDS} corpus passes
    (broadcast-K BLAS, no corpus shuffle); index build and serving
    match sim_ivf_derived_topk exactly."""
    return _trained_probe_topk(*_trained_index(spark, sf_dir), (1,))[1]


@query(
    "sim_ivf_trained_nprobe2_topk",
    oracle=_lloyd_derived_oracle(TRAINED_DERIVED_ROUNDS, nprobe=2),
    tags=("similarity", "ivf", "ann", "derived-k", "kmeans", "multiprobe"),
)
def sim_ivf_trained_nprobe2_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe serving over the trained derived-K index: each
    query searches its TWO nearest trained cells. This is the recall
    dial the round-8 SCALE.md analysis called for: derived-K keeps
    cells ~sqrt(n) rows, so probe cost is ~nprobe·2·sqrt(n) rows —
    still sub-linear in the corpus — where widening fixed-K cells
    probes a constant corpus FRACTION. Probe cells come from ranking
    the ≤40-row query sample against the broadcast K-row centroid
    table; candidates de-duplicate across probes before the exact
    cosine top-3. Audited against every other method in
    sim_recall_report (ivf_trained_np2)."""
    return _trained_probe_topk(*_trained_index(spark, sf_dir), (2,))[2]


@query(
    "sim_ivf_trained_nprobe4_topk",
    oracle=_lloyd_derived_oracle(TRAINED_DERIVED_ROUNDS, nprobe=4),
    tags=("similarity", "ivf", "ann", "derived-k", "kmeans", "multiprobe"),
)
def sim_ivf_trained_nprobe4_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nprobe=4 over the trained derived-K index — the deep end of the
    multi-probe dial (see sim_ivf_trained_nprobe2_topk). Probe rows
    ~4·2·sqrt(n): at sf1 that is still ~1/10 the rows the fixed-K
    nprobe2 path reads, recovering most of its recall (SCALE.md
    round-9 table)."""
    return _trained_probe_topk(*_trained_index(spark, sf_dir), (4,))[4]


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory side of the 100 TB ANN story.
# IVF/LSH bound the ROWS a probe reads; PQ bounds the BYTES each row
# costs: the 64-dim vector splits into PQ_SUBS subspaces, each encoded
# as its nearest of PQ_CODES codewords, and the 4-bit codes pack into
# ONE BIGINT (8 subs x 4 bits = 32 bits). A 10^9-vector corpus indexes
# in ~8 GB — broadcastable to every executor — where the raw float
# vectors need ~256 GB; the ADC serving scan reads the single pqcode
# column (parquet-pruned), ~30x less IO than a raw-vector scan.
# Asymmetric distance (ADC): the QUERY stays unquantized; per query a
# PQ_SUBS x PQ_CODES table of exact integer sub-distances broadcasts,
# and each candidate's distance is PQ_SUBS table lookups — no vector
# arithmetic in the corpus-scale pass. (Jegou, Douze, Schmid,
# "Product Quantization for Nearest Neighbor Search", TPAMI 2011 —
# public reference; this family is beyond the reference engine's own
# surface, like the rest of the similarity module.)
#
# Exactness for the oracle: codewords are slices of hash-seeded
# QUANTIZED vectors, so every sub-distance is an exact integer in both
# engines (max per-sub distance 8 * 2000^2 = 3.2e7 << 2^53) and
# ADC distance = ||q - reconstruction(code)||^2 exactly, ties broken
# on (distance, code_id) / (adist, neighbor_id).
# ---------------------------------------------------------------------------

PQ_SUBS = 8
PQ_DIMS = EMBED_DIMS // PQ_SUBS  # 8 dims per subspace
PQ_CODES = 16  # 4-bit codes: 8 subs x 4 bits pack into one BIGINT


class PQSpec(NamedTuple):
    """A PQ code-width configuration — the BYTES dial of the ANN
    serving budget (the rows dial is nprobe x derived_k). ``subs``
    subspaces of ``dims`` dims each (subs * dims == EMBED_DIMS),
    ``codes`` = 2^``bits`` codewords per subspace. Codes pack
    little-endian into ``words`` BIGINT columns (``cols``),
    ``per_word`` codes each; a multi-word top byte can set the sign
    bit — packing wraps two's-complement identically in both engines
    (numpy uint64 view / DuckDB HUGEINT wrap) and the shift/mask
    unpack is sign-safe (arithmetic shift then AND mask)."""

    subs: int
    dims: int
    codes: int
    bits: int

    @property
    def per_word(self) -> int:
        return 64 // self.bits

    @property
    def words(self) -> int:
        return (self.subs + self.per_word - 1) // self.per_word

    @property
    def cols(self) -> tuple[str, ...]:
        return tuple(
            "pqcode" if w == 0 else f"pqcode{w + 1}"
            for w in range(self.words)
        )

    @property
    def index_bytes(self) -> int:
        return 8 * self.words


PQ4 = PQSpec(subs=PQ_SUBS, dims=PQ_DIMS, codes=PQ_CODES, bits=4)
PQ8 = PQSpec(subs=16, dims=EMBED_DIMS // 16, codes=256, bits=8)

# Corpus size at which the 4-bit (8-byte) code runs out of entropy:
# SCALE.md round-9/10 tables show pq_trained recall@3 0.600 at n=5e3
# falling to 0.250 by n=5e4, while the 16-byte code holds. Like
# derived_k, the width derives from the corpus, not from config.
PQ_WIDTH_THRESHOLD = 20_000


def pq_spec_for(corpus_rows: int) -> PQSpec:
    """Corpus-size-aware code width — the production dial `derived_k`
    is for index width and `nprobe` is for probe depth: 8-byte 4-bit
    codes below PQ_WIDTH_THRESHOLD rows, 16-byte 8-bit codes at or
    above (constant-entropy codes decay in recall as n grows; see
    SCALE.md). Callers pass `catalog.corpus_rows` (parquet footer
    metadata — no count() scan)."""
    return PQ4 if corpus_rows < PQ_WIDTH_THRESHOLD else PQ8


def _pq_codebooks(emb: DataFrame, spec: PQSpec = PQ4) -> DataFrame:
    """(sub, code_id, cw): per-subspace codebooks sliced from the
    spec.codes hash-seeded quantized vectors (the `_centroids` sampling
    hash, so seed choice is engine-identical)."""
    return _pq_seed_codebooks(
        emb.select(
            "vec_id", quantize_embedding(F.col("embedding")).alias("qemb")
        ),
        spec,
    )


def _pq_seed_codebooks(qdf: DataFrame, spec: PQSpec = PQ4) -> DataFrame:
    """Codebook seeding over an arbitrary (vec_id, qemb) table — the
    raw-embedding path and the residual (IVFADC) path share it.
    code_id is the DENSE rank 0..spec.codes-1 in hash order — the
    packing positions. The row_number window sorts only the
    spec.codes-row limit result."""
    h = ((F.col("vec_id") % _H_P) * _H_A + _H_C) % _H_M
    seeds = (
        qdf.select("vec_id", "qemb").orderBy(h.alias("h"), "vec_id").limit(spec.codes)
    )
    w = Window.orderBy(
        (((F.col("vec_id") % _H_P) * _H_A + _H_C) % _H_M), "vec_id"
    )
    seeds = seeds.withColumn(
        "code_id", (F.row_number().over(w) - 1).cast("long")
    )
    slices = F.array(
        *[
            F.slice("qemb", s * spec.dims + 1, spec.dims)
            for s in range(spec.subs)
        ]
    )
    return seeds.select(
        "code_id", F.posexplode(slices).alias("sub", "cw")
    ).select("sub", "code_id", "cw")


def _pq_encode(
    vecs: DataFrame,
    cb: DataFrame,
    with_dist: bool = False,
    spec: PQSpec = PQ4,
    *,
    n_rows: int,
) -> DataFrame:
    """Appends the packed PQ code word columns (``spec.cols``) to every
    input row in ONE corpus pass: a kernel in the cogrouped harness
    (`_cogroup_kernel`) computes all spec.subs argmins per vector from
    per-sub codebook slices — the `_assign_blas` discipline (corpus
    never shuffles; the tiny codebook replicates to every slice).
    Distances are exact integers in float64; np.argmin's first-minimum
    over code_id-sorted codewords reproduces the (dist, code_id)
    tie-break.

    Packing accumulates in uint64 and reinterprets as int64: a
    multi-word spec's top byte can set the sign bit, and the uint64
    view wraps two's-complement exactly like the oracle's HUGEINT
    modular reduction (`_pq_cte`); the shift/mask unpack is sign-safe.

    ``with_dist`` also emits ``pqdist`` — the exact integer
    quantization distortion ||x - reconstruction(x)||^2 (the sum of
    the chosen sub-distances) — for the index-quality audit.

    ``vecs`` must carry ``vec_id`` and ``qemb``; all columns pass
    through. ``n_rows`` (input rows, or a bound) and ``k =
    spec.codes`` size the slice count — the per-sub distance matrix
    is rows × spec.codes cells."""
    import numpy as np

    # Destructure the spec to plain ints/strings BEFORE the closure:
    # a PQSpec instance in the closure would pickle its class by
    # reference, which workers driven from a sys.path-injected repo
    # cannot import (the verify-skill cloudpickle gotcha).
    n_subs, n_dims = spec.subs, spec.dims
    n_bits, n_per, word_cols = spec.bits, spec.per_word, list(spec.cols)
    out_cols = [f.name for f in vecs.schema.fields]
    out_schema = (
        ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in vecs.schema.fields
        )
        + ", "
        + ", ".join(f"{c} bigint" for c in word_cols)
    )
    if with_dist:
        out_schema += ", pqdist bigint"

    def encode(vpdf, cpdf):
        vpdf = vpdf[out_cols]
        # Per-sub codebooks: Lloyd training can drop a cell in one
        # subspace but not another, so code counts vary by sub — slice
        # the codebook per sub instead of one uniform reshape.
        cpdf = cpdf.sort_values(["sub", "code_id"], kind="stable")
        X = np.array(vpdf["qemb"].tolist(), dtype=np.float64).reshape(
            len(vpdf), n_subs, n_dims
        )
        words = np.zeros((len(word_cols), len(vpdf)), dtype=np.uint64)
        dist = np.zeros(len(vpdf), dtype=np.int64)
        for s in range(n_subs):
            cs = cpdf[cpdf["sub"] == s]
            cid = cs["code_id"].to_numpy(dtype=np.uint64)
            C = np.array(cs["cw"].tolist(), dtype=np.float64)
            d = ((X[:, s, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            # first min = lowest code_id (cid ascends within the sub)
            chosen = cid[np.argmin(d, axis=1)]
            words[s // n_per] += chosen << np.uint64(n_bits * (s % n_per))
            if with_dist:
                dist += d.min(axis=1).astype(np.int64)
        out = vpdf.assign(
            **{
                c: words[w].view(np.int64)
                for w, c in enumerate(word_cols)
            }
        )
        if with_dist:
            out = out.assign(pqdist=dist)
        return out

    return _cogroup_kernel(
        "_pq_encode",
        vecs,
        cb.select("sub", "code_id", "cw"),
        encode,
        out_schema,
        n_rows=n_rows,
        k=spec.codes,
    )


PQ_TRAIN_ROUNDS = 3  # d50 containment knee at sf0.1 (0.33 -> 0.60)


def _pq_unpack(word_cols, spec: PQSpec = PQ4):
    """array<long> of the spec.subs codes packed in the word columns —
    the shift/mask inverse of the kernel's packing. Sign-safe: an
    arithmetic shiftright of a negative word followed by AND mask
    still extracts the original byte."""
    return F.array(
        *[
            F.shiftright(
                word_cols[s // spec.per_word],
                spec.bits * (s % spec.per_word),
            )
            .bitwiseAND(F.lit(spec.codes - 1))
            .cast("long")
            for s in range(spec.subs)
        ]
    )


def _pq_lloyd_round(
    qemb_df: DataFrame,
    cb: DataFrame,
    spec: PQSpec = PQ4,
    *,
    n_rows: int,
) -> DataFrame:
    """One Lloyd re-centering of the PQ codebooks, ALL subspaces in a
    single corpus pass: encode under the current codebooks (the same
    kernel serving uses), unpack the packed codes back to (sub, code)
    rows, and re-center each non-empty (sub, code) cell at the
    floor-quantized member mean — `_lloyd_round`'s exact semantics
    (FLOOR(sum/n) per dimension, dropped cells simply not re-emitted),
    applied per subspace. The subspace is DATA here, not a loop bound:
    training cost per round is one encode pass + one spec.dims-column
    aggregation, independent of spec.subs."""
    enc = _pq_encode(
        qemb_df.select("vec_id", "qemb"), cb, spec=spec, n_rows=n_rows
    )
    sv = F.slice(F.col("qemb"), F.col("sub") * spec.dims + 1, spec.dims)
    ex = enc.select(
        "qemb",
        F.posexplode(
            _pq_unpack([F.col(c) for c in spec.cols], spec)
        ).alias("sub", "code_id"),
    ).select("sub", "code_id", sv.alias("sv"))
    # one sql-string expression instead of spec.dims composed Columns
    # (guide §7.3 — the `_lloyd_round` py4j finding; identical plan)
    sums = ex.groupBy("sub", "code_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "array("
            + ",".join(f"sum(sv[{d}])" for d in range(spec.dims))
            + ")"
        ).alias("s"),
    )
    return sums.select(
        "sub",
        "code_id",
        F.expr("transform(s, x -> CAST(FLOOR(x / n) AS BIGINT))").alias(
            "cw"
        ),
    )


def _pq_train(
    qemb_df: DataFrame,
    cb0: DataFrame,
    rounds: int,
    spec: PQSpec = PQ4,
    *,
    n_rows: int,
) -> DataFrame:
    """``rounds`` Lloyd refinements of the seeded codebooks. The
    rounds form a LINEAR chain — round r's encode is the only consumer
    of round r-1's codebook — so the chain stays one lazy DAG and only
    the FINAL subs×codes codebook localCheckpoints (round-17, guide
    §1.2: same per-round encode passes, two fewer materialization
    barriers per trained family; the per-round checkpoints dated from
    the no-ReusedExchange finding, which only matters for
    MULTI-consumer subtrees). ``n_rows`` (the corpus rows, or a
    bound) sizes each round's encode kernel with ``k = spec.codes``."""
    cb = cb0
    for _ in range(rounds):
        cb = _pq_lloyd_round(qemb_df, cb, spec, n_rows=n_rows)
    if cb is not cb0:
        cb = cb.localCheckpoint(eager=True)
    return cb


def _pq_sub_dist(qq_col, cw_col, sub_col, n_dims: int = PQ_DIMS):
    """Exact integer squared-L2 between one subspace slice of a
    quantized vector and a codeword — the shared distance both the
    encoder audit and the ADC tables use."""
    return F.aggregate(
        F.zip_with(
            F.slice(qq_col, sub_col * n_dims + 1, n_dims),
            cw_col,
            lambda a, b: (a - b) * (a - b),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


# Fill distance for a (sub, code) cell Lloyd training dropped: the
# encoder can never ASSIGN a dropped code, so this value is unread in
# any consistently-encoded corpus — it only pads the table so that
# positions stay code_id-keyed. Far above any real sub-distance
# (max 8 * 2000^2 ~ 3.2e7) yet PQ_SUBS * sentinel stays << 2^63.
PQ_DROPPED_DIST = 1 << 40


def _pq_dtab(
    sample: DataFrame,
    cb: DataFrame,
    keys: tuple[str, ...] = ("query_id",),
    spec: PQSpec = PQ4,
) -> DataFrame:
    """Per-query ADC distance tables: (*keys, dt) where dt is the
    spec.subs x spec.codes nested array of exact integer sub-distances
    from the query's subvector (column ``qq``) to every codeword.
    Built on the tiny query sample (<= 40 rows x codebook);
    broadcast downstream. The residual (IVFADC) path keys tables by
    (query_id, pcell) — one table per probed cell.

    Rows are code_id-KEYED, not positional: Lloyd training can drop a
    (sub, code) cell (`_pq_lloyd_round` re-emits only non-empty
    cells), and a collect_list row of survivors would shift every
    later code's position — `_pq_adist` indexes by the packed code
    value. Each sub's row is therefore densified to exactly
    ``spec.codes`` entries via a code_id-keyed map, dropped codes
    padded with `PQ_DROPPED_DIST` (unreachable: the encoder never
    assigns a dropped code); the sub dimension is densified the same
    way."""
    per = sample.crossJoin(F.broadcast(cb)).select(
        *keys,
        "sub",
        "code_id",
        _pq_sub_dist(
            F.col("qq"), F.col("cw"), F.col("sub"), spec.dims
        ).alias("d"),
    )
    per_sub = (
        per.groupBy(*keys, "sub")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("code_id", "d"))
            ).alias("m")
        )
        .select(
            *keys,
            "sub",
            F.transform(
                F.sequence(
                    F.lit(0).cast("long"),
                    F.lit(spec.codes - 1).cast("long"),
                ),
                lambda i: F.coalesce(
                    F.element_at(F.col("m"), i),
                    F.lit(PQ_DROPPED_DIST).cast("long"),
                ),
            ).alias("row"),
        )
    )
    pad_row = F.array_repeat(F.lit(PQ_DROPPED_DIST).cast("long"), spec.codes)
    return (
        per_sub.groupBy(*keys)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("sub", "row"))
            ).alias("sm")
        )
        .select(
            *keys,
            F.transform(
                F.sequence(F.lit(0), F.lit(spec.subs - 1)),
                lambda s: F.coalesce(
                    F.element_at(F.col("sm"), s), pad_row
                ),
            ).alias("dt"),
        )
    )


def _pq_adist(spec: PQSpec = PQ4):
    """The ADC distance expression over (packed word cols, dt)
    columns: unpack sub s's code with shift/mask (sign-safe — see
    `_pq_unpack`), look up its pre-computed sub-distance in the
    broadcast table, sum the spec.subs terms — a pure projection, no
    vector math."""
    import functools
    import operator

    terms = [
        F.element_at(
            F.element_at(F.col("dt"), s + 1),
            (
                F.shiftright(
                    F.col(spec.cols[s // spec.per_word]),
                    spec.bits * (s % spec.per_word),
                ).bitwiseAND(F.lit(spec.codes - 1))
            ).cast("int")
            + 1,
        )
        for s in range(spec.subs)
    ]
    return functools.reduce(operator.add, terms)


def _pq_adc_cands(
    codes: DataFrame, dtab: DataFrame, spec: PQSpec = PQ4
) -> DataFrame:
    """(query_id, neighbor_id, adist): ADC distance of every encoded
    corpus row to every sampled query — the corpus-scale pass of PQ
    serving. Pure projection over (packed words x broadcast dtab). No
    shuffle until the top-k window."""
    adist = _pq_adist(spec)
    return (
        codes.crossJoin(F.broadcast(dtab))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            adist.alias("adist"),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )


def _pq_parts(
    spark: SparkSession,
    sf_dir: str,
    train_rounds: int = 0,
    spec: PQSpec = PQ4,
):
    """Shared build: (qemb, cb, codes, sample) — codebooks from the
    hash seeds (Lloyd-refined when ``train_rounds`` > 0), the one-pass
    packed encode, and the fixed query sample carrying raw + quantized
    forms."""
    emb = table(spark, sf_dir, "embeddings")
    n = corpus_rows(sf_dir, "embeddings")
    qemb = emb.select(
        "vec_id",
        "embedding",
        quantize_embedding(F.col("embedding")).alias("qemb"),
    )
    cb = _pq_codebooks(emb, spec)
    if train_rounds:
        cb = _pq_train(qemb, cb, train_rounds, spec, n_rows=n)
    codes = _pq_encode(
        qemb.select("vec_id", "qemb"), cb, spec=spec, n_rows=n
    ).select("vec_id", *spec.cols)
    sample = _sample_filter(qemb).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("qemb").alias("qq"),
    )
    return qemb, cb, codes, sample


def _pq_cte(
    prefix: str = "",
    train_rounds: int = 0,
    src: str | None = None,
    spec: PQSpec = PQ4,
) -> str:
    """DuckDB twin of the PQ build: hash-seeded codebooks (dense
    code_id = rank in hash order), ``train_rounds`` unrolled Lloyd
    refinements over (sub, code) cells (MATERIALIZED — each round is
    referenced twice, see the verify-skill CTE-inlining note),
    per-(vector, sub, codeword) exact integer distances, argmin codes,
    4-bit packing into one BIGINT. ``prefix`` renames the internal
    CTEs so the fragment composes with oracles that already bind the
    bare names (the IVF fragments). ``src`` names an existing CTE
    providing (vec_id, embedding, qemb) to quantize-encode instead of
    the embeddings table — the residual (IVFADC) path feeds
    pre-computed residual vectors through the same chain."""
    p = prefix
    d_, c_, s_ = spec.dims, spec.codes, spec.subs
    rounds = []
    for r in range(1, train_rounds + 1):
        rounds.append(f"""{p}pa{r} AS MATERIALIZED (
      SELECT vec_id, sub, code_id FROM (
        SELECT v.vec_id, c.sub, c.code_id,
               ROW_NUMBER() OVER (PARTITION BY v.vec_id, c.sub
                 ORDER BY CAST(list_sum(list_transform(
                            v.qemb[c.sub * {d_} + 1 : (c.sub + 1) * {d_}],
                            (x, i) -> (x - c.cw[i]) * (x - c.cw[i])))
                          AS BIGINT), c.code_id) AS rn
        FROM {p}pqv v, {p}cb{r - 1} c)
      WHERE rn = 1
    ), {p}cb{r} AS MATERIALIZED (
      SELECT sub, code_id, list(x ORDER BY d) AS cw FROM (
        SELECT a.sub, a.code_id, t.d,
               CAST(FLOOR(CAST(SUM(v.qemb[a.sub * {d_} + t.d + 1]) AS DOUBLE)
                          / COUNT(*)) AS BIGINT) AS x
        FROM {p}pa{r} a
        JOIN {p}pqv v ON v.vec_id = a.vec_id
        CROSS JOIN range({d_}) t(d)
        GROUP BY a.sub, a.code_id, t.d)
      GROUP BY sub, code_id
    )""")
    rounds_sql = (", " + ", ".join(rounds)) if rounds else ""
    pqv_body = (
        f"SELECT vec_id, embedding, qemb FROM {src}"
        if src
        else """SELECT vec_id, embedding,
             list_transform(embedding,
                            x -> CAST(FLOOR(x::DOUBLE * 1000.0) AS BIGINT)) AS qemb
      FROM embeddings"""
    )
    if spec.bits == 4:
        # single word, sign bit unreachable (8 subs x 4 bits = 32)
        packed_sql = f"""{p}packed AS (
      SELECT vec_id,
             CAST(SUM(code_id * (CAST(1 AS BIGINT) << (4 * sub))) AS BIGINT) AS pqcode
      FROM {p}codes GROUP BY vec_id
    )"""
    else:
        # Multi-word packing: the top byte of each word can set the
        # sign bit, and DuckDB BIGINT arithmetic ERRORS on overflow —
        # accumulate in HUGEINT and wrap two's-complement explicitly,
        # matching the kernel's uint64 view (see _pq_encode).
        word_cols = ", ".join(
            f"""CAST(CASE WHEN h{w} >= 9223372036854775808 THEN h{w} - 18446744073709551616
                  ELSE h{w} END AS BIGINT) AS {c}"""
            for w, c in enumerate(spec.cols)
        )
        word_sums = ", ".join(
            f"""SUM(CASE WHEN sub // {spec.per_word} = {w}
                 THEN CAST(code_id AS HUGEINT) * (CAST(1 AS HUGEINT) << ({spec.bits} * (sub % {spec.per_word})))
                 ELSE CAST(0 AS HUGEINT) END) AS h{w}"""
            for w in range(spec.words)
        )
        packed_sql = f"""{p}packed AS (
      SELECT vec_id, {word_cols}
      FROM (SELECT vec_id, {word_sums} FROM {p}codes GROUP BY vec_id)
    )"""
    return f"""{p}pqv AS (
      {pqv_body}
    ), {p}seeds AS (
      SELECT vec_id, qemb,
             CAST(ROW_NUMBER() OVER (ORDER BY {_CENT_HASH_SQL}, vec_id) AS BIGINT) - 1 AS code_id
      FROM {p}pqv
      QUALIFY code_id < {c_}
    ), {p}cb0 AS (
      SELECT t.sub, s.code_id,
             s.qemb[t.sub * {d_} + 1 : (t.sub + 1) * {d_}] AS cw
      FROM {p}seeds s, range({s_}) t(sub)
    ){rounds_sql}, {p}cb AS (
      SELECT sub, code_id, cw FROM {p}cb{train_rounds}
    ), {p}ed AS (
      SELECT v.vec_id, c.sub, c.code_id,
             CAST(list_sum(list_transform(
                    v.qemb[c.sub * {d_} + 1 : (c.sub + 1) * {d_}],
                    (x, i) -> (x - c.cw[i]) * (x - c.cw[i]))) AS BIGINT) AS d
      FROM {p}pqv v, {p}cb c
    ), {p}codes AS (
      SELECT vec_id, sub, code_id
      FROM (SELECT vec_id, sub, code_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d, code_id) AS rn
            FROM {p}ed)
      WHERE rn = 1
    ), {packed_sql}"""


def _pq_query_sql(prefix: str = "", spec: PQSpec = PQ4) -> str:
    """CTE fragment over `_pq_cte` (same ``prefix``): the fixed query
    sample and its per-query ADC distance tables — shared by the
    flat-scan serving (`_pq_adc_sql`) and the celled IVF-PQ probe."""
    p = prefix
    d_ = spec.dims
    return f"""{p}qs AS (
      SELECT vec_id AS query_id, embedding AS qe, qemb AS qq
      FROM {p}pqv WHERE {_QUERY_SAMPLE_SQL}
    ), {p}dt AS (
      SELECT q.query_id, c.sub, c.code_id,
             CAST(list_sum(list_transform(
                    q.qq[c.sub * {d_} + 1 : (c.sub + 1) * {d_}],
                    (x, i) -> (x - c.cw[i]) * (x - c.cw[i]))) AS BIGINT) AS d
      FROM {p}qs q, {p}cb c
    )"""


def _pq_adc_sql(prefix: str = "", spec: PQSpec = PQ4) -> str:
    """CTE tail over `_pq_cte`: the summed lookup distance per
    (query, corpus row) — the un-celled full ADC scan. The codes join
    keys on (sub, code_id), so the fragment is width-agnostic given
    the matching `spec` for the query fragment."""
    p = prefix
    return _pq_query_sql(prefix, spec) + f""", {p}ad AS (
      SELECT dt.query_id, c.vec_id AS neighbor_id,
             CAST(SUM(dt.d) AS BIGINT) AS adist
      FROM {p}codes c JOIN {p}dt dt ON c.sub = dt.sub AND c.code_id = dt.code_id
      WHERE c.vec_id <> dt.query_id
      GROUP BY dt.query_id, c.vec_id
    )"""


def _pq_rerank_sql(depth: int) -> str:
    """Oracle tail over `_pq_adc_sql`: ADC shortlist of ``depth``
    candidates, exact-cosine re-rank to top-3."""
    return f"""
    , short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id) AS rn
        FROM ad)
      WHERE rn <= {depth}
    )
    SELECT query_id, neighbor_id, sim, rn FROM (
      SELECT s.query_id, s.neighbor_id,
             ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                          qs.qe::DOUBLE[]), 4) AS sim,
             ROW_NUMBER() OVER (PARTITION BY s.query_id
               ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                                     qs.qe::DOUBLE[]), 4) DESC,
                        s.neighbor_id) AS rn
      FROM short s
      JOIN embeddings e ON e.vec_id = s.neighbor_id
      JOIN qs ON qs.query_id = s.query_id)
    WHERE rn <= 3
    ORDER BY query_id, rn
    """


def _pq_topk(cands: DataFrame, depth: int) -> DataFrame:
    """Exact top-``depth`` per query by (adist, neighbor_id), in TWO
    window stages: a local prune partitioned by (query_id, input
    partition) keeps ``depth`` rows per source partition, then the
    global window ranks the ≤ partitions·depth survivors. One global
    window alone would put ALL n of a query's candidates in a single
    task — the flat ADC scan's one skew hazard at corpus scale; the
    local stage caps any task's group at ~n/partitions rows and the
    global shuffle at queries·partitions·depth rows. Exact because
    every global top-``depth`` row survives its local top-``depth``."""
    wl = Window.partitionBy("query_id", "pid").orderBy(
        "adist", "neighbor_id"
    )
    wg = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    return (
        cands.withColumn("pid", F.spark_partition_id())
        .withColumn("lrn", F.row_number().over(wl))
        .filter(F.col("lrn") <= depth)
        .withColumn("rn", F.row_number().over(wg))
        .filter(F.col("rn") <= depth)
    )


def _shortlist_id_pushdown(emb: DataFrame, short: DataFrame):
    """Shortlist-id pushdown for the exact re-rank (round 12 — extends
    the round-11 persisted-path discipline to every in-plan rerank
    tail): the re-rank otherwise fetches its ≤|queries|·depth shortlist
    rows by broadcast-join against a FULL raw-vector scan — the one
    corpus-width read left in compressed serving. The shortlist
    localCheckpoints (so the id collect and the join share one
    computation), its neighbor ids collect driver-side (k-bounded:
    ≤|queries|·depth ≤ ~400 values at the fixed query budget), and the
    id list pushes into the embeddings scan as an In(vec_id …) filter
    parquet turns into row-group skipping. The filter keeps exactly
    the join's matching keys, so results are byte-identical and the
    oracles are position-independent of it. Returns (pruned emb,
    checkpointed short)."""
    short = short.localCheckpoint(eager=True)
    ids = [r[0] for r in short.select("neighbor_id").distinct().collect()]  # k-bounded collect
    return emb.filter(F.col("vec_id").isin(ids)), short


def _pq_exact_rerank(
    emb: DataFrame, short: DataFrame, queries: DataFrame
) -> DataFrame:
    """Exact cosine top-3 over a broadcast shortlist — the stage
    where raw-vector IO is paid, bounded by the shortlist size.
    ``queries`` carries (query_id, qe). Shared tail of every PQ
    serving query."""
    re = (
        emb.join(F.broadcast(short), emb.vec_id == F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "embedding")
        .join(F.broadcast(queries.select("query_id", "qe")), "query_id")
    )
    # the ADC shortlists drop the self-match before their cut
    return _top_n(_scored(re, drop_self=False), 3)


def _pq_rerank_plan(
    spark: SparkSession,
    sf_dir: str,
    train_rounds: int,
    depth: int,
    spec: PQSpec = PQ4,
    parts=None,
) -> DataFrame:
    """Shared two-stage PQ serving plan: ADC shortlist of ``depth``
    from codebooks trained ``train_rounds`` rounds, exact cosine
    re-rank to top-3. ``parts`` lets the recall report pass one shared
    (qemb, cb, codes, sample) build instead of re-training per
    method."""
    emb = table(spark, sf_dir, "embeddings")
    _, cb, codes, sample = (
        parts
        if parts is not None
        else _pq_parts(spark, sf_dir, train_rounds, spec)
    )
    cands = _pq_adc_cands(codes, _pq_dtab(sample, cb, spec=spec), spec)
    short = _pq_topk(cands, depth).select("query_id", "neighbor_id")
    emb, short = _shortlist_id_pushdown(emb, short)
    return _pq_exact_rerank(emb, short, sample)


@query(
    "sim_pq_codebooks",
    oracle="WITH "
    + _pq_cte()
    + f"""
    SELECT sub, code_id, t.dim, cw[t.dim + 1] AS val
    FROM cb, range({PQ_DIMS}) t(dim)
    ORDER BY sub, code_id, dim
    """,
    tags=("similarity", "pq", "ann"),
)
def sim_pq_codebooks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ codebook tensor, exploded to (sub, code_id, dim, val) for
    exact audit: PQ_SUBS x PQ_CODES codewords of PQ_DIMS quantized
    values each. Seeding reuses the centroid-sampling hash, so the
    codebooks — like the IVF cells — are a deterministic function of
    the corpus both engines agree on."""
    emb = table(spark, sf_dir, "embeddings")
    return (
        _pq_codebooks(emb)
        .select("sub", "code_id", F.posexplode("cw").alias("dim", "val"))
        .orderBy("sub", "code_id", "dim")
    )


@query(
    "sim_pq_encode",
    oracle="WITH "
    + _pq_cte()
    + """
    SELECT vec_id, pqcode FROM packed ORDER BY vec_id
    """,
    tags=("similarity", "pq", "ann"),
)
def sim_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The packed PQ index: every 64-dim vector compressed to ONE
    BIGINT (8 subspace codes x 4 bits). This is the 100 TB memory
    story — the serving index is 8 bytes/vector (10^9 vectors ~ 8 GB,
    broadcastable), vs 256 bytes for the raw float32 vectors — and the
    build is one cogrouped-Arrow corpus pass against a broadcast
    128-row codebook."""
    _, _, codes, _ = _pq_parts(spark, sf_dir)
    return codes.orderBy("vec_id")


@query(
    "sim_pq_adc_topk",
    oracle="WITH "
    + _pq_cte()
    + ", "
    + _pq_adc_sql()
    + """
    SELECT query_id, neighbor_id, adist, rn FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adist, neighbor_id) AS rn
      FROM ad)
    WHERE rn <= 3
    ORDER BY query_id, rn
    """,
    tags=("similarity", "pq", "ann"),
)
def sim_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-3 from the packed PQ index alone: per
    query a PQ_SUBS x PQ_CODES integer distance table broadcasts, and
    the corpus-scale pass is PQ_SUBS shift/mask lookups per row over
    the 8-byte pqcode column — no vector arithmetic, no raw-vector IO.
    The scan is linear in n (this is the un-celled form; sim_ivfpq_topk
    composes PQ with the derived-K cells for sub-linear rows), but each
    row costs ~8 bytes of input and ~8 adds."""
    _, cb, codes, sample = _pq_parts(spark, sf_dir)
    cands = _pq_adc_cands(codes, _pq_dtab(sample, cb))
    return (
        _pq_topk(cands, 3)
        .select("query_id", "neighbor_id", "adist", "rn")
        .orderBy("query_id", "rn")
    )


@query(
    "sim_pq_rerank_topk",
    oracle="WITH " + _pq_cte() + ", " + _pq_adc_sql() + _pq_rerank_sql(10),
    tags=("similarity", "pq", "ann"),
)
def sim_pq_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ serving: ADC shortlists 10 candidates per query
    from the 8-byte codes, then ONLY the shortlist (<= 400 rows) pays
    for raw-vector IO — an exact cosine re-rank to top-3. This is the
    standard compressed-index serving shape: the corpus-scale pass
    never touches a float vector, and the exact pass is
    shortlist-bounded. Output is schema-identical to
    sim_ann_brute_topk, so recall is directly comparable
    (sim_pq_trained_rerank_topk is the quality dial over the same
    8-byte index)."""
    return _pq_rerank_plan(spark, sf_dir, train_rounds=0, depth=10)


@query(
    "sim_pq_trained_rerank_topk",
    oracle="WITH "
    + _pq_cte(train_rounds=PQ_TRAIN_ROUNDS)
    + ", "
    + _pq_adc_sql()
    + _pq_rerank_sql(50),
    tags=("similarity", "pq", "ann", "kmeans"),
)
def sim_pq_trained_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production PQ serving shape: {PQ_TRAIN_ROUNDS} Lloyd rounds
    refine the subspace codebooks (each round ONE corpus pass for all
    PQ_SUBS subspaces — the subspace is data, not a loop bound), then
    ADC shortlists 50 candidates and the exact pass re-ranks to top-3.
    Training more than doubles ADC fidelity at unchanged index size
    (8 bytes/vector): brute-top-3 containment at sf0.1 goes
    0.333 -> 0.600 at depth 50 (SCALE.md round-9 PQ table) — above
    the trained-IVF nprobe2 recall while the candidate pass reads
    codes, not vectors. Costs: train = {PQ_TRAIN_ROUNDS} encode
    passes + a (sub, code)-grouped 8-column mean each; the 128-row
    codebook state localCheckpoints per round."""
    return _pq_rerank_plan(
        spark, sf_dir, train_rounds=PQ_TRAIN_ROUNDS, depth=50
    )


_IVFPQ_NPROBE = 2


@query(
    "sim_ivfpq_topk",
    oracle="WITH "
    + ivf_derived_cte(prefix="iv")
    + ", "
    + _pq_cte()
    + ", "
    + _pq_query_sql()
    + f"""
    , probes AS (
      SELECT query_id, cent_id AS pcell FROM (
        SELECT qs.query_id, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY qs.query_id
                 ORDER BY CAST(list_sum(list_transform(qs.qq,
                            (x, i) -> (x - c.cemb[i]) * (x - c.cemb[i])))
                          AS BIGINT), c.cent_id) AS rn
        FROM qs, ivcents c)
      WHERE rn <= {_IVFPQ_NPROBE}
    ), cands AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN ivassigned a ON a.cent_id = p.pcell
      WHERE a.vec_id <> p.query_id
    ), adc AS (
      SELECT c.query_id, c.neighbor_id, CAST(SUM(dt.d) AS BIGINT) AS adist
      FROM cands c
      JOIN codes k ON k.vec_id = c.neighbor_id
      JOIN dt ON dt.query_id = c.query_id
            AND dt.sub = k.sub AND dt.code_id = k.code_id
      GROUP BY c.query_id, c.neighbor_id
    ), short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id) AS rn
        FROM adc)
      WHERE rn <= 10
    )
    SELECT query_id, neighbor_id, sim, rn FROM (
      SELECT s.query_id, s.neighbor_id,
             ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                          qs.qe::DOUBLE[]), 4) AS sim,
             ROW_NUMBER() OVER (PARTITION BY s.query_id
               ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                                     qs.qe::DOUBLE[]), 4) DESC,
                        s.neighbor_id) AS rn
      FROM short s
      JOIN embeddings e ON e.vec_id = s.neighbor_id
      JOIN qs ON qs.query_id = s.query_id)
    WHERE rn <= 3
    ORDER BY query_id, rn
    """,
    tags=("similarity", "pq", "ivf", "ann", "derived-k"),
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the complete compressed production serving shape. The
    index row is (vec_id, cent_id, pqcode) — 24 bytes — built in two
    chained Arrow passes over the corpus (encode, then top-2 derived-K
    cell assignment; no corpus self-join). Serving: the query's top-2
    cells bound candidates to ~2·2·sqrt(n) ROWS (derived-K cells stay
    ~sqrt(n)); ADC lookup distances bound the BYTES those rows cost
    (no raw-vector IO); the exact cosine re-rank touches only the
    10-candidate shortlist. IVF bounds rows, PQ bounds bytes — at
    10^9 vectors the probe reads ~128k index rows (~3 MB) where the
    flat ADC scan reads the full 8 GB code column and a raw-vector
    scan reads 256 GB. Codebooks here are corpus-global (shared
    across cells); sim_ivfpq_residual_topk is the full IVFADC form
    with residual-trained codebooks (Jegou et al. 2011 §IV)."""
    return _ivfpq_plan(spark, sf_dir, trained=False)


def _raw_sample(emb: DataFrame) -> DataFrame:
    """The query sample with its raw (``qe``) and quantized (``qemb``)
    vectors — the probe and exact re-rank inputs of every IVF-PQ serve."""
    return _sample_filter(
        emb.select(
            "vec_id",
            F.col("embedding").alias("qe"),
            quantize_embedding(F.col("embedding")).alias("qemb"),
        )
    )


def _ivfpq_plan(
    spark: SparkSession,
    sf_dir: str,
    trained: bool,
    cents: DataFrame | None = None,
    cb: DataFrame | None = None,
) -> DataFrame:
    """Shared IVF-PQ build + serve: derived-K cells and PQ codebooks
    (both Lloyd-trained when ``trained``), the 24-byte index row, the
    top-{_IVFPQ_NPROBE}-cell probe, ADC shortlist of 10, exact
    re-rank. ``cents``/``cb`` let the recall report hand in one shared
    training run instead of re-training per method (training is
    deterministic, so the output is identical either way)."""
    emb = table(spark, sf_dir, "embeddings")
    n = corpus_rows(sf_dir, "embeddings")
    k = derived_k(n)
    qemb = emb.select(
        "vec_id", quantize_embedding(F.col("embedding")).alias("qemb")
    )
    if cb is None:
        cb = _pq_codebooks(emb)
        if trained:
            cb = _pq_train(qemb, cb, PQ_TRAIN_ROUNDS, n_rows=n)
    if cents is None:
        cents = _centroids(emb, k)
        if trained:
            cents, _ = lloyd_train(
                qemb,
                cents,
                max_rounds=TRAINED_DERIVED_ROUNDS,
                tol=0,
                n_rows=n,
            )
    index = _assign_blas(
        _pq_encode(qemb, cb, n_rows=n),
        cents,
        top_m=2,
        out_cols=["vec_id", "pqcode"],
        n_rows=n,
        k=k,
    ).select("vec_id", "cent_id", "pqcode")

    raw_sample = _raw_sample(emb)
    probes = _probe_ranks(
        raw_sample.select("vec_id", "qemb"), cents, top_m=_IVFPQ_NPROBE, k=k
    ).select(F.col("vec_id").alias("query_id"), F.col("cent_id").alias("pcell"))
    dtab = _pq_dtab(
        raw_sample.select(
            F.col("vec_id").alias("query_id"), F.col("qemb").alias("qq")
        ),
        cb,
    )

    cands = (
        index.join(F.broadcast(probes), F.col("cent_id") == F.col("pcell"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "pqcode")
        .distinct()
    )
    adc = cands.join(F.broadcast(dtab), "query_id").select(
        "query_id",
        "neighbor_id",
        _pq_adist().alias("adist"),
    )
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    short = (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("query_id", "neighbor_id")
    )
    emb, short = _shortlist_id_pushdown(emb, short)
    return _pq_exact_rerank(
        emb, short, raw_sample.select(F.col("vec_id").alias("query_id"), "qe")
    )


# ---------------------------------------------------------------------------
# Recall audit — the knob that justifies every approximate path above.
# Exact brute-force is the contract (the same way FTS5 MATCH is exact);
# each ANN variant trades candidates-scanned for recall, and this query
# makes that trade measurable: recall@3 of each method's top-3 against
# the brute-force top-3 on the SAME query sample. At 100 TB this runs on
# a held-out sample; the plan is three bucket/cell equi-joins plus one
# broadcast brute pass over the sample — nothing quadratic in the corpus.
# ---------------------------------------------------------------------------


@query(
    "sim_recall_report",
    oracle=f"""
    WITH {_BUCKETS_CTE}, qv AS (
      SELECT vec_id, embedding,
             list_transform(embedding,
                            x -> CAST(FLOOR(x::DOUBLE * 1000.0) AS BIGINT)) AS qemb
      FROM embeddings
    ), cents AS (
      SELECT vec_id AS cent_id, qemb AS cemb FROM qv
      ORDER BY {_CENT_HASH_SQL}, vec_id
      LIMIT {N_CENTROIDS}
    ), dists AS (
      SELECT qv.vec_id, qv.embedding, cents.cent_id,
             ROW_NUMBER() OVER (PARTITION BY qv.vec_id
                                ORDER BY CAST(list_sum(list_transform(qv.qemb,
                                  (x, i) -> (x - cents.cemb[i]) * (x - cents.cemb[i])))
                                  AS BIGINT), cents.cent_id) AS rn
      FROM qv, cents
    ), assigned AS (
      SELECT d.vec_id, e.embedding, d.cent_id
      FROM dists d JOIN embeddings e ON e.vec_id = d.vec_id
      WHERE d.rn = 1
    ), bq AS (
      SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2000
    ), brute AS (
      SELECT query_id, neighbor_id FROM (
        SELECT bq.query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY bq.query_id
                 ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], bq.qe::DOUBLE[]), 4) DESC,
                          e.vec_id) AS rn
        FROM embeddings e, bq WHERE e.vec_id <> bq.query_id)
      WHERE rn <= 3
    ), lq AS (
      SELECT e.vec_id AS query_id, e.embedding AS qe, b.bucket
      FROM embeddings e JOIN buckets b ON e.vec_id = b.vec_id
      WHERE e.vec_id % 50 = 0 AND e.vec_id < 2000
    ), lsh3 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT lq.query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY lq.query_id
                 ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], lq.qe::DOUBLE[]), 4) DESC,
                          e.vec_id) AS rn
        FROM lq
        JOIN buckets b ON b.bucket = lq.bucket
        JOIN embeddings e ON e.vec_id = b.vec_id
        WHERE e.vec_id <> lq.query_id)
      WHERE rn <= 3
    ), iq AS (
      SELECT vec_id AS query_id, embedding AS qe, cent_id AS qcell
      FROM assigned WHERE vec_id % 50 = 0 AND vec_id < 2000
    ), ivf1 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT iq.query_id, a.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY iq.query_id
                 ORDER BY ROUND(list_cosine_similarity(a.embedding::DOUBLE[], iq.qe::DOUBLE[]), 4) DESC,
                          a.vec_id) AS rn
        FROM iq JOIN assigned a ON a.cent_id = iq.qcell
        WHERE a.vec_id <> iq.query_id)
      WHERE rn <= 3
    ), probes AS (
      SELECT d.vec_id AS query_id, e.embedding AS qe, d.cent_id AS pcell
      FROM dists d JOIN embeddings e ON e.vec_id = d.vec_id
      WHERE d.rn <= 2 AND d.vec_id % 50 = 0 AND d.vec_id < 2000
    ), ivf2 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rn
        FROM (SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id,
                     ROUND(list_cosine_similarity(a.embedding::DOUBLE[], p.qe::DOUBLE[]), 4) AS sim
              FROM probes p JOIN assigned a ON a.cent_id = p.pcell
              WHERE a.vec_id <> p.query_id))
      WHERE rn <= 3
    ), ra1 AS (
      SELECT d.vec_id, qv.qemb, d.cent_id
      FROM dists d JOIN qv ON qv.vec_id = d.vec_id
      WHERE d.rn = 1
    ), rdims AS (
      SELECT cent_id, dd, qemb[dd + 1] AS x FROM ra1, range({EMBED_DIMS}) t(dd)
    ), rsums AS (
      SELECT cent_id, dd, CAST(SUM(x) AS BIGINT) AS s
      FROM rdims GROUP BY cent_id, dd
    ), rcounts AS (
      SELECT cent_id, COUNT(*) AS n FROM ra1 GROUP BY cent_id
    ), rnewc AS (
      SELECT s.cent_id,
             list(CAST(FLOOR(s::DOUBLE / c.n) AS BIGINT) ORDER BY dd) AS cemb
      FROM rsums s JOIN rcounts c ON s.cent_id = c.cent_id
      GROUP BY s.cent_id
    ), rd2 AS (
      SELECT qv.vec_id, qv.embedding, nc.cent_id,
             CAST(list_sum(list_transform(qv.qemb,
                    (x, i) -> (x - nc.cemb[i]) * (x - nc.cemb[i])))
                  AS BIGINT) AS dist
      FROM qv, rnewc nc
    ), ra2 AS (
      SELECT vec_id, embedding, cent_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY dist, cent_id) AS rn
            FROM rd2)
      WHERE rn = 1
    ), rq AS (
      SELECT vec_id AS query_id, embedding AS qe, cent_id AS qcell
      FROM ra2 WHERE vec_id % 50 = 0 AND vec_id < 2000
    ), refined3 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT rq.query_id, a.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY rq.query_id
                 ORDER BY ROUND(list_cosine_similarity(a.embedding::DOUBLE[], rq.qe::DOUBLE[]), 4) DESC,
                          a.vec_id) AS rn
        FROM rq JOIN ra2 a ON a.cent_id = rq.qcell
        WHERE a.vec_id <> rq.query_id)
      WHERE rn <= 3
    ), mplanes AS (
      SELECT vec_id, t, p,
             SUM(x * (((17 * p + (31 + t) * d) % 7) - 3)) AS dot_p
      FROM dims, range({N_PLANES}) u(p), range({N_TABLES}) v(t)
      GROUP BY vec_id, t, p
    ), mbuckets AS (
      SELECT vec_id, t,
             CAST(SUM(CASE WHEN dot_p >= 0 THEN POWER(2, p)::BIGINT ELSE 0 END)
                  AS BIGINT) AS bucket
      FROM mplanes GROUP BY vec_id, t
    ), mq AS (
      SELECT b.vec_id AS query_id, e.embedding AS qe, b.t, b.bucket
      FROM mbuckets b JOIN embeddings e ON e.vec_id = b.vec_id
      WHERE b.vec_id % 50 = 0 AND b.vec_id < 2000
    ), mt3 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rn
        FROM (SELECT DISTINCT mq.query_id, e.vec_id AS neighbor_id,
                     ROUND(list_cosine_similarity(e.embedding::DOUBLE[], mq.qe::DOUBLE[]), 4) AS sim
              FROM mq JOIN mbuckets b ON b.t = mq.t AND b.bucket = mq.bucket
              JOIN embeddings e ON e.vec_id = b.vec_id
              WHERE e.vec_id <> mq.query_id))
      WHERE rn <= 3
    ), {ivf_derived_cte(prefix="dk_")}, dkq AS (
      SELECT vec_id AS query_id, embedding AS qe, cent_id AS qcell
      FROM dk_assigned
      WHERE cent_rank = 1 AND vec_id % 50 = 0 AND vec_id < 2000
    ), dk3 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT dkq.query_id, a.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY dkq.query_id
                 ORDER BY ROUND(list_cosine_similarity(a.embedding::DOUBLE[], dkq.qe::DOUBLE[]), 4) DESC,
                          a.vec_id) AS rn
        FROM dkq JOIN dk_assigned a ON a.cent_id = dkq.qcell
        WHERE a.vec_id <> dkq.query_id)
      WHERE rn <= 3
    ), {_lloyd_trained_fragment(TRAINED_DERIVED_ROUNDS, prefix="tr_")},
    {_trained_probe_sql(1, prefix="tr1_", src="tr_")},
    {_trained_probe_sql(2, prefix="tr2_", src="tr_")},
    {_trained_probe_sql(4, prefix="tr4_", src="tr_")},
    {_pq_cte()}, {_pq_adc_sql()},
    pqshort AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id) AS rn
        FROM ad)
      WHERE rn <= 10
    ), pq3 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                 ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) DESC,
                          s.neighbor_id) AS rn
        FROM pqshort s
        JOIN embeddings e ON e.vec_id = s.neighbor_id
        JOIN qs q ON q.query_id = s.query_id)
      WHERE rn <= 3
    ),
    {_pq_cte(prefix="tq_", train_rounds=PQ_TRAIN_ROUNDS)}, {_pq_adc_sql("tq_")},
    tqshort AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id) AS rn
        FROM tq_ad)
      WHERE rn <= 50
    ), tq3 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                 ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) DESC,
                          s.neighbor_id) AS rn
        FROM tqshort s
        JOIN embeddings e ON e.vec_id = s.neighbor_id
        JOIN tq_qs q ON q.query_id = s.query_id)
      WHERE rn <= 3
    ), xpprobes AS (
      SELECT query_id, cent_id AS pcell FROM (
        SELECT q.query_id, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY CAST(list_sum(list_transform(q.qq,
                          (x, i) -> (x - c.cemb[i]) * (x - c.cemb[i]))) AS BIGINT),
                          c.cent_id) AS rn
        FROM qs q, dk_cents c)
      WHERE rn <= 2
    ), xpcands AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
      FROM xpprobes p JOIN dk_assigned a ON a.cent_id = p.pcell
      WHERE a.vec_id <> p.query_id
    ), xpadc AS (
      SELECT c.query_id, c.neighbor_id, CAST(SUM(dt.d) AS BIGINT) AS adist
      FROM xpcands c
      JOIN codes k ON k.vec_id = c.neighbor_id
      JOIN dt ON dt.query_id = c.query_id AND dt.sub = k.sub AND dt.code_id = k.code_id
      GROUP BY c.query_id, c.neighbor_id
    ), xpshort AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id) AS rn
        FROM xpadc)
      WHERE rn <= 10
    ), xp3 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                 ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) DESC,
                          s.neighbor_id) AS rn
        FROM xpshort s
        JOIN embeddings e ON e.vec_id = s.neighbor_id
        JOIN qs q ON q.query_id = s.query_id)
      WHERE rn <= 3
    ), ytprobes AS (
      SELECT vec_id AS query_id, cent_id AS pcell
      FROM tr_frk WHERE rn <= 2 AND vec_id % 50 = 0 AND vec_id < 2000
    ), ytcands AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
      FROM ytprobes p JOIN tr_index a ON a.cent_id = p.pcell
      WHERE a.vec_id <> p.query_id
    ), ytadc AS (
      SELECT c.query_id, c.neighbor_id, CAST(SUM(dt.d) AS BIGINT) AS adist
      FROM ytcands c
      JOIN tq_codes k ON k.vec_id = c.neighbor_id
      JOIN tq_dt dt ON dt.query_id = c.query_id
            AND dt.sub = k.sub AND dt.code_id = k.code_id
      GROUP BY c.query_id, c.neighbor_id
    ), ytshort AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id) AS rn
        FROM ytadc)
      WHERE rn <= 10
    ), yt3 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                 ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) DESC,
                          s.neighbor_id) AS rn
        FROM ytshort s
        JOIN embeddings e ON e.vec_id = s.neighbor_id
        JOIN tq_qs q ON q.query_id = s.query_id)
      WHERE rn <= 3
    ), zzrsrc AS (
      SELECT q.vec_id, q.embedding,
             list_transform(q.qemb, (x, j) -> x - c.cemb[j]) AS qemb
      FROM tr_qv q
      JOIN tr_index i ON i.vec_id = q.vec_id AND i.cent_rank = 1
      JOIN tr_c{TRAINED_DERIVED_ROUNDS} c ON c.cent_id = i.cent_id
    ),
    {_pq_cte(prefix="zq_", train_rounds=PQ_TRAIN_ROUNDS, src="zzrsrc")},
    zzindex AS (
      SELECT i.vec_id, i.cent_id, p.pqcode
      FROM tr_index i JOIN zq_packed p ON p.vec_id = i.vec_id
      WHERE i.cent_rank = 1
    ), zzprobes AS (
      SELECT vec_id AS query_id, cent_id AS pcell
      FROM tr_frk WHERE rn <= 2 AND vec_id % 50 = 0 AND vec_id < 2000
    ), zzqres AS (
      SELECT p.query_id, p.pcell,
             list_transform(q.qemb, (x, j) -> x - c.cemb[j]) AS qq
      FROM zzprobes p
      JOIN tr_qv q ON q.vec_id = p.query_id
      JOIN tr_c{TRAINED_DERIVED_ROUNDS} c ON c.cent_id = p.pcell
    ), zzdt AS (
      SELECT r.query_id, r.pcell, c.sub, c.code_id,
             CAST(list_sum(list_transform(
                    r.qq[c.sub * {PQ_DIMS} + 1 : (c.sub + 1) * {PQ_DIMS}],
                    (x, i) -> (x - c.cw[i]) * (x - c.cw[i]))) AS BIGINT) AS d
      FROM zzqres r, zq_cb c
    ), zzcands AS (
      SELECT p.query_id, p.pcell, a.vec_id AS neighbor_id
      FROM zzprobes p JOIN zzindex a ON a.cent_id = p.pcell
      WHERE a.vec_id <> p.query_id
    ), zzadc AS (
      SELECT c.query_id, c.neighbor_id, CAST(SUM(dt.d) AS BIGINT) AS adist
      FROM zzcands c
      JOIN zq_codes k ON k.vec_id = c.neighbor_id
      JOIN zzdt dt ON dt.query_id = c.query_id AND dt.pcell = c.pcell
            AND dt.sub = k.sub AND dt.code_id = k.code_id
      GROUP BY c.query_id, c.neighbor_id
    ), zzshort AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id) AS rn
        FROM zzadc)
      WHERE rn <= 10
    ), zz3 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                 ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) DESC,
                          s.neighbor_id) AS rn
        FROM zzshort s
        JOIN embeddings e ON e.vec_id = s.neighbor_id
        JOIN qs q ON q.query_id = s.query_id)
      WHERE rn <= 3
    ), z4probes AS (
      SELECT vec_id AS query_id, cent_id AS pcell
      FROM tr_frk WHERE rn <= 4 AND {_QUERY_SAMPLE_SQL}
    ), z4qres AS (
      SELECT p.query_id, p.pcell,
             list_transform(q.qemb, (x, j) -> x - c.cemb[j]) AS qq
      FROM z4probes p
      JOIN tr_qv q ON q.vec_id = p.query_id
      JOIN tr_c{TRAINED_DERIVED_ROUNDS} c ON c.cent_id = p.pcell
    ), z4dt AS (
      SELECT r.query_id, r.pcell, c.sub, c.code_id,
             CAST(list_sum(list_transform(
                    r.qq[c.sub * {PQ_DIMS} + 1 : (c.sub + 1) * {PQ_DIMS}],
                    (x, i) -> (x - c.cw[i]) * (x - c.cw[i]))) AS BIGINT) AS d
      FROM z4qres r, zq_cb c
    ), z4cands AS (
      SELECT p.query_id, p.pcell, a.vec_id AS neighbor_id
      FROM z4probes p JOIN zzindex a ON a.cent_id = p.pcell
      WHERE a.vec_id <> p.query_id
    ), z4adc AS (
      SELECT c.query_id, c.neighbor_id, CAST(SUM(dt.d) AS BIGINT) AS adist
      FROM z4cands c
      JOIN zq_codes k ON k.vec_id = c.neighbor_id
      JOIN z4dt dt ON dt.query_id = c.query_id AND dt.pcell = c.pcell
            AND dt.sub = k.sub AND dt.code_id = k.code_id
      GROUP BY c.query_id, c.neighbor_id
    ), z4short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id) AS rn
        FROM z4adc)
      WHERE rn <= 10
    ), z43 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                 ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) DESC,
                          s.neighbor_id) AS rn
        FROM z4short s
        JOIN embeddings e ON e.vec_id = s.neighbor_id
        JOIN qs q ON q.query_id = s.query_id)
      WHERE rn <= 3
    ),
    {_pq_cte(prefix="w8_", train_rounds=PQ_TRAIN_ROUNDS, src="zzrsrc", spec=PQ8)},
    w8index AS (
      SELECT i.vec_id, i.cent_id, p.pqcode, p.pqcode2
      FROM tr_index i JOIN w8_packed p ON p.vec_id = i.vec_id
      WHERE i.cent_rank = 1
    ), w8dt AS (
      SELECT r.query_id, r.pcell, c.sub, c.code_id,
             CAST(list_sum(list_transform(
                    r.qq[c.sub * {PQ8.dims} + 1 : (c.sub + 1) * {PQ8.dims}],
                    (x, i) -> (x - c.cw[i]) * (x - c.cw[i]))) AS BIGINT) AS d
      FROM z4qres r, w8_cb c
    ), w8adc AS (
      SELECT c.query_id, c.neighbor_id, CAST(SUM(dt.d) AS BIGINT) AS adist
      FROM (SELECT p.query_id, p.pcell, a.vec_id AS neighbor_id
            FROM z4probes p JOIN w8index a ON a.cent_id = p.pcell
            WHERE a.vec_id <> p.query_id) c
      JOIN w8_codes k ON k.vec_id = c.neighbor_id
      JOIN w8dt dt ON dt.query_id = c.query_id AND dt.pcell = c.pcell
            AND dt.sub = k.sub AND dt.code_id = k.code_id
      GROUP BY c.query_id, c.neighbor_id
    ), w8short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id) AS rn
        FROM w8adc)
      WHERE rn <= 10
    ), w83 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                 ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) DESC,
                          s.neighbor_id) AS rn
        FROM w8short s
        JOIN embeddings e ON e.vec_id = s.neighbor_id
        JOIN qs q ON q.query_id = s.query_id)
      WHERE rn <= 3
    ),
    {_pq_cte(prefix="p8_", spec=PQ8)}, {_pq_adc_sql("p8_", PQ8)},
    p8short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id) AS rn
        FROM p8_ad)
      WHERE rn <= 10
    ), p83 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                 ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) DESC,
                          s.neighbor_id) AS rn
        FROM p8short s
        JOIN embeddings e ON e.vec_id = s.neighbor_id
        JOIN p8_qs q ON q.query_id = s.query_id)
      WHERE rn <= 3
    ),
    {_pq_cte(prefix="t8_", train_rounds=PQ_TRAIN_ROUNDS, spec=PQ8)}, {_pq_adc_sql("t8_", PQ8)},
    t8short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id) AS rn
        FROM t8_ad)
      WHERE rn <= 50
    ), t83 AS (
      SELECT query_id, neighbor_id FROM (
        SELECT s.query_id, s.neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY s.query_id
                 ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) DESC,
                          s.neighbor_id) AS rn
        FROM t8short s
        JOIN embeddings e ON e.vec_id = s.neighbor_id
        JOIN t8_qs q ON q.query_id = s.query_id)
      WHERE rn <= 3
    ),
    methods AS (
      SELECT 'lsh' AS method, query_id, neighbor_id FROM lsh3
      UNION ALL SELECT 'lsh_multitable', query_id, neighbor_id FROM mt3
      UNION ALL SELECT 'ivf_nprobe1', query_id, neighbor_id FROM ivf1
      UNION ALL SELECT 'ivf_nprobe2', query_id, neighbor_id FROM ivf2
      UNION ALL SELECT 'ivf_refined', query_id, neighbor_id FROM refined3
      UNION ALL SELECT 'ivf_derived_k', query_id, neighbor_id FROM dk3
      UNION ALL SELECT 'ivf_trained_np1', query_id, neighbor_id FROM tr1_top3
      UNION ALL SELECT 'ivf_trained_np2', query_id, neighbor_id FROM tr2_top3
      UNION ALL SELECT 'ivf_trained_np4', query_id, neighbor_id FROM tr4_top3
      UNION ALL SELECT 'pq_rerank', query_id, neighbor_id FROM pq3
      UNION ALL SELECT 'pq_trained', query_id, neighbor_id FROM tq3
      UNION ALL SELECT 'ivfpq', query_id, neighbor_id FROM xp3
      UNION ALL SELECT 'ivfpq_trained', query_id, neighbor_id FROM yt3
      UNION ALL SELECT 'ivfpq_residual', query_id, neighbor_id FROM zz3
      UNION ALL SELECT 'ivfpq_residual_np4', query_id, neighbor_id FROM z43
      UNION ALL SELECT 'pq8_rerank', query_id, neighbor_id FROM p83
      UNION ALL SELECT 'pq8_trained', query_id, neighbor_id FROM t83
      UNION ALL SELECT 'ivfpq8_residual_np4', query_id, neighbor_id FROM w83
    ), hits AS (
      SELECT m.method, COUNT(b.neighbor_id) AS n_hits
      FROM methods m
      LEFT JOIN brute b
        ON m.query_id = b.query_id AND m.neighbor_id = b.neighbor_id
      GROUP BY m.method
    ), tot AS (SELECT COUNT(*) AS n_brute FROM brute),
    {_hard_neg_ann_tail(src="tr_")},
    hn_truth AS (
      SELECT query_id, negative_id FROM (
        SELECT q.query_id, e.vec_id AS negative_id,
               ROW_NUMBER() OVER (PARTITION BY q.query_id
                 ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) DESC,
                          e.vec_id) AS rn
        FROM embeddings e
        JOIN (SELECT vec_id AS query_id, embedding AS qe, label AS qlabel
              FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2000) q
          ON e.vec_id <> q.query_id AND e.label <> q.qlabel)
      WHERE rn <= 3
    ), hn_row AS (
      SELECT 'hard_neg_ann' AS method,
             (SELECT COUNT(t.negative_id) FROM hn_top3 a
              LEFT JOIN hn_truth t ON t.query_id = a.query_id
                                  AND t.negative_id = a.negative_id) AS n_hits,
             (SELECT COUNT(*) FROM hn_truth) AS n_brute
    )
    SELECT method, CAST(n_hits AS BIGINT) AS n_hits,
           CAST(n_brute AS BIGINT) AS n_brute,
           ROUND(n_hits * 1.0 / n_brute, 4) AS recall_at_3
    FROM (SELECT method, n_hits, n_brute FROM hits, tot
          UNION ALL SELECT method, n_hits, n_brute FROM hn_row)
    ORDER BY method
    """,
    tags=("similarity", "ann", "recall"),
)
def sim_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@3 of every approximate ANN path against the brute-force
    baseline on the shared query sample (vec_id % 50 = 0 AND
    vec_id < 2000) — 18 methods, plus a 19th row (hard_neg_ann)
    auditing the IVF-routed hard-negative miner against its own exact
    label-filtered truth (sim_hard_negatives_topk). Composes the SAME
    plan builders the registered method queries call, so the report
    cannot drift from what the methods return. Each trained artifact
    builds ONCE per report (derived-K Lloyd cells, the 4-bit and 8-bit
    PQ codebooks, the residual index — training is deterministic, so
    sharing is output-identical), and the packed code tables
    localCheckpoint so the corpus encodes once per family instead of
    once per method row. The two depth-tuple serving tails each serve
    several methods from one candidate pass: `_trained_probe_topk`
    with depths (1, 2, 4) gives the three ivf_trained rows, and
    `_ivfpq_residual_plan` with depths (2, 4) over the shared PQ4
    residual index gives both ivfpq_residual rows — each depth's rows
    equal the one-depth call the registered query makes. One row per
    method: (method, n_hits, n_brute, recall_at_3)."""
    # The exact-truth lists are sample×topk-bounded RESULTS (≤ |sample|
    # · 3 rows) whose subtrees are full corpus passes; each is consumed
    # twice below (the hits join AND the n_brute total), and AQE reuse
    # does not cover both consumers — so the brute pass ran twice per
    # report. Eager K-row checkpoints run each truth pass ONCE
    # (VERDICT r16 #6; same discipline as the centroid tables).
    brute = (
        sim_ann_brute_topk(spark, sf_dir)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
        .localCheckpoint(eager=True)
    )
    methods = None
    for name, fn in (
        ("lsh", sim_lsh_ann_topk),
        ("lsh_multitable", sim_lsh_multitable_topk),
        ("ivf_nprobe1", sim_ivf_ann_topk),
        ("ivf_nprobe2", sim_ivf_ann_topk_nprobe2),
        ("ivf_refined", sim_ivf_refined_topk),
        ("ivf_derived_k", sim_ivf_derived_topk),
    ):
        part = fn(spark, sf_dir).select(
            F.lit(name).alias("method"), "query_id", "neighbor_id"
        )
        methods = part if methods is None else methods.unionAll(part)
    trained = _trained_index(spark, sf_dir)
    # One shared corpus candidate pass serves all three probe depths
    # (round-11: the serving passes are the report's cost now that
    # builds are shared — output-identical per depth).
    for np_, df in _trained_probe_topk(*trained, (1, 2, 4)).items():
        part = df.select(
            F.lit(f"ivf_trained_np{np_}").alias("method"),
            "query_id",
            "neighbor_id",
        )
        methods = methods.unionAll(part)

    # One shared build per trained artifact (Lloyd cells via `trained`
    # above; each PQ codebook family trained ONCE, its packed codes
    # localCheckpointed so the corpus encode pass runs once instead of
    # once per method row). Training is deterministic, so the report
    # is byte-identical to per-method builds — just ~half the build
    # passes (the round-9 verdict's shared-build item).
    tcents = trained[1]

    def _ckpt_codes(parts):
        qemb_, cb_, codes_, sample_ = parts
        return qemb_, cb_, codes_.localCheckpoint(eager=False), sample_

    parts4 = _ckpt_codes(_pq_parts(spark, sf_dir))
    parts4t = _ckpt_codes(_pq_parts(spark, sf_dir, PQ_TRAIN_ROUNDS))
    parts8 = _ckpt_codes(_pq_parts(spark, sf_dir, spec=PQ8))
    parts8t = _ckpt_codes(_pq_parts(spark, sf_dir, PQ_TRAIN_ROUNDS, PQ8))
    emb_r, cents_r, cb_r, rindex = _residual_index(spark, sf_dir, cents=tcents)
    residx = (emb_r, cents_r, cb_r, rindex.localCheckpoint(eager=False))
    emb_8, cents_8, cb_8, rindex8 = _residual_index(
        spark, sf_dir, cents=tcents, spec=PQ8
    )
    residx8 = (emb_8, cents_8, cb_8, rindex8.localCheckpoint(eager=False))
    for name, df in (
        (
            "pq_rerank",
            _pq_rerank_plan(spark, sf_dir, 0, 10, parts=parts4),
        ),
        (
            "pq_trained",
            _pq_rerank_plan(
                spark, sf_dir, PQ_TRAIN_ROUNDS, 50, parts=parts4t
            ),
        ),
        (
            "pq8_rerank",
            _pq_rerank_plan(spark, sf_dir, 0, 10, spec=PQ8, parts=parts8),
        ),
        (
            "pq8_trained",
            _pq_rerank_plan(
                spark, sf_dir, PQ_TRAIN_ROUNDS, 50, spec=PQ8, parts=parts8t
            ),
        ),
        ("ivfpq", _ivfpq_plan(spark, sf_dir, trained=False, cb=parts4[1])),
        (
            "ivfpq_trained",
            _ivfpq_plan(spark, sf_dir, trained=True, cents=tcents, cb=parts4t[1]),
        ),
        # np2 and np4 over the PQ4 residual index share one ADC pass
        *(
            (f"ivfpq_residual{'_np4' if np_ == 4 else ''}", df)
            for np_, df in _ivfpq_residual_plan(
                spark, sf_dir, nprobes=(2, 4), idx=residx
            ).items()
        ),
        (
            "ivfpq8_residual_np4",
            _ivfpq_residual_plan(
                spark, sf_dir, nprobes=(4,), idx=residx8, spec=PQ8
            )[4],
        ),
    ):
        part = df.select(
            F.lit(name).alias("method"), "query_id", "neighbor_id"
        )
        methods = methods.unionAll(part)
    hits = (
        methods.join(brute, on=["query_id", "neighbor_id"], how="left")
        .groupBy("method")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"))
    )
    tot = brute.agg(F.count(F.lit(1)).alias("n_brute"))
    report = hits.crossJoin(F.broadcast(tot)).select(
        "method",
        F.col("n_hits").cast("long").alias("n_hits"),
        F.col("n_brute").cast("long").alias("n_brute"),
        F.round(F.col("n_hits") / F.col("n_brute"), 4).alias("recall_at_3"),
    )
    # The hard-negative miner audits against ITS OWN exact truth (the
    # label-filtered brute pass), not the unfiltered brute list — a
    # same-label brute neighbor is not a miss for a miner whose job is
    # to exclude it (round-15: certifies the IVF-routed variant).
    hn_brute = (
        sim_hard_negatives_topk(spark, sf_dir)
        .select("query_id", "negative_id", F.lit(1).alias("hit"))
        .localCheckpoint(eager=True)  # same two-consumer truth pass
    )
    hn_ann = sim_hard_negatives_ann_topk(spark, sf_dir).select(
        "query_id", "negative_id"
    )
    hn_hits = (
        hn_ann.join(hn_brute, on=["query_id", "negative_id"], how="left")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"))
    )
    hn_tot = hn_brute.agg(F.count(F.lit(1)).alias("n_brute"))
    hn_row = hn_hits.crossJoin(F.broadcast(hn_tot)).select(
        F.lit("hard_neg_ann").alias("method"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.col("n_brute").cast("long").alias("n_brute"),
        F.round(F.col("n_hits") / F.col("n_brute"), 4).alias("recall_at_3"),
    )
    return report.unionAll(hn_row).orderBy("method")


@query(
    "sim_pq_index_stats",
    oracle="WITH "
    + _pq_cte()
    + ", "
    + _pq_cte(prefix="tq_", train_rounds=PQ_TRAIN_ROUNDS)
    + """
    , sd AS (
      SELECT vec_id, CAST(SUM(md) AS BIGINT) AS pqdist FROM (
        SELECT vec_id, sub, MIN(d) AS md FROM ed GROUP BY vec_id, sub)
      GROUP BY vec_id
    ), tsd AS (
      SELECT vec_id, CAST(SUM(md) AS BIGINT) AS pqdist FROM (
        SELECT vec_id, sub, MIN(d) AS md FROM tq_ed GROUP BY vec_id, sub)
      GROUP BY vec_id
    )
    SELECT * FROM (
      SELECT 'seeded' AS variant, CAST(COUNT(*) AS BIGINT) AS n_vectors,
             CAST(SUM(pqdist) AS BIGINT) AS total_distortion,
             ROUND(SUM(pqdist) * 1.0 / COUNT(*), 4) AS mean_distortion
      FROM sd
      UNION ALL
      SELECT 'trained', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(pqdist) AS BIGINT),
             ROUND(SUM(pqdist) * 1.0 / COUNT(*), 4)
      FROM tsd)
    ORDER BY variant
    """,
    tags=("similarity", "pq", "ann", "kmeans"),
)
def sim_pq_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ index quality audit: total and mean quantization distortion
    (exact integer ||x - reconstruction(x)||^2) for the seeded vs the
    Lloyd-trained codebooks — the number that explains the recall gap
    between sim_pq_rerank_topk and sim_pq_trained_rerank_topk at the
    SAME 8-byte index width. Two corpus encode passes (with_dist) plus
    the training chain; at 100 TB this is the nightly index-health
    metric (distortion creep signals the codebooks no longer fit the
    corpus distribution — retrain trigger)."""
    emb = table(spark, sf_dir, "embeddings")
    n = corpus_rows(sf_dir, "embeddings")
    qemb = emb.select(
        "vec_id", quantize_embedding(F.col("embedding")).alias("qemb")
    )
    cb0 = _pq_codebooks(emb)
    out = None
    for variant, cb in (
        ("seeded", cb0),
        ("trained", _pq_train(qemb, cb0, PQ_TRAIN_ROUNDS, n_rows=n)),
    ):
        stats = (
            _pq_encode(qemb, cb, with_dist=True, n_rows=n)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_vectors"),
                F.sum("pqdist").cast("long").alias("total_distortion"),
                F.round(
                    F.sum("pqdist") / F.count(F.lit(1)), 4
                ).alias("mean_distortion"),
            )
            .select(F.lit(variant).alias("variant"), "*")
        )
        out = stats if out is None else out.unionAll(stats)
    return out.orderBy("variant")


@query(
    "sim_ivfpq_trained_topk",
    oracle="WITH "
    + _lloyd_trained_fragment(TRAINED_DERIVED_ROUNDS, prefix="tr_")
    + ", "
    + _pq_cte(prefix="tq_", train_rounds=PQ_TRAIN_ROUNDS)
    + ", "
    + _pq_query_sql("tq_")
    + f"""
    , xprobes AS (
      SELECT vec_id AS query_id, cent_id AS pcell
      FROM tr_frk WHERE rn <= {_IVFPQ_NPROBE} AND {_QUERY_SAMPLE_SQL}
    ), xcands AS (
      SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
      FROM xprobes p JOIN tr_index a ON a.cent_id = p.pcell
      WHERE a.vec_id <> p.query_id
    ), xadc AS (
      SELECT c.query_id, c.neighbor_id, CAST(SUM(dt.d) AS BIGINT) AS adist
      FROM xcands c
      JOIN tq_codes k ON k.vec_id = c.neighbor_id
      JOIN tq_dt dt ON dt.query_id = c.query_id
            AND dt.sub = k.sub AND dt.code_id = k.code_id
      GROUP BY c.query_id, c.neighbor_id
    ), xshort AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id) AS rn
        FROM xadc)
      WHERE rn <= 10
    )
    SELECT query_id, neighbor_id, sim, rn FROM (
      SELECT s.query_id, s.neighbor_id,
             ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                          q.qe::DOUBLE[]), 4) AS sim,
             ROW_NUMBER() OVER (PARTITION BY s.query_id
               ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                                     q.qe::DOUBLE[]), 4) DESC,
                        s.neighbor_id) AS rn
      FROM xshort s
      JOIN embeddings e ON e.vec_id = s.neighbor_id
      JOIN tq_qs q ON q.query_id = s.query_id)
    WHERE rn <= 3
    ORDER BY query_id, rn
    """,
    tags=("similarity", "pq", "ivf", "ann", "derived-k", "kmeans"),
)
def sim_ivfpq_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULLY-trained compressed production build: derived-K cells
    Lloyd-trained {TRAINED_DERIVED_ROUNDS} rounds (cells fit the data)
    AND subspace codebooks Lloyd-trained {PQ_TRAIN_ROUNDS} rounds
    (codes fit the data), composed into the same 24-byte index row
    and two-cell probe as sim_ivfpq_topk. Everything the similarity
    module built this round converges here: training is
    {TRAINED_DERIVED_ROUNDS} + {PQ_TRAIN_ROUNDS} broadcast-state
    corpus passes, the index build is two chained Arrow passes, the
    probe reads ~{_IVFPQ_NPROBE}·2·sqrt(n) rows of 24 bytes, and the
    exact pass touches 10 rows per query."""
    return _ivfpq_plan(spark, sf_dir, trained=True)


def _ivfpq_residual_oracle(nprobe: int, spec: PQSpec = PQ4) -> str:
    """DuckDB twin of the residual IVFADC serve at probe depth
    ``nprobe`` and residual-code width ``spec`` — the only nprobe
    dependence is the tr_frk rank cut, so the np2/PQ4 text is
    byte-identical to the round-9 registered oracle."""
    return ("WITH "
    + _lloyd_trained_fragment(TRAINED_DERIVED_ROUNDS, prefix="tr_")
    + f""", rsrc AS (
      SELECT q.vec_id, q.embedding,
             list_transform(q.qemb, (x, j) -> x - c.cemb[j]) AS qemb
      FROM tr_qv q
      JOIN tr_index i ON i.vec_id = q.vec_id AND i.cent_rank = 1
      JOIN tr_c{TRAINED_DERIVED_ROUNDS} c ON c.cent_id = i.cent_id
    ), """
    + _pq_cte(prefix="rq_", train_rounds=PQ_TRAIN_ROUNDS, src="rsrc", spec=spec)
    + f""", rindex AS (
      SELECT i.vec_id, i.cent_id, {", ".join(f"p.{c}" for c in spec.cols)}
      FROM tr_index i JOIN rq_packed p ON p.vec_id = i.vec_id
      WHERE i.cent_rank = 1
    ), rprobes AS (
      SELECT vec_id AS query_id, cent_id AS pcell
      FROM tr_frk WHERE rn <= {nprobe} AND {_QUERY_SAMPLE_SQL}
    ), rqres AS (
      SELECT p.query_id, p.pcell,
             list_transform(q.qemb, (x, j) -> x - c.cemb[j]) AS qq
      FROM rprobes p
      JOIN tr_qv q ON q.vec_id = p.query_id
      JOIN tr_c{TRAINED_DERIVED_ROUNDS} c ON c.cent_id = p.pcell
    ), rdt AS (
      SELECT r.query_id, r.pcell, c.sub, c.code_id,
             CAST(list_sum(list_transform(
                    r.qq[c.sub * {spec.dims} + 1 : (c.sub + 1) * {spec.dims}],
                    (x, i) -> (x - c.cw[i]) * (x - c.cw[i]))) AS BIGINT) AS d
      FROM rqres r, rq_cb c
    ), rcands AS (
      SELECT p.query_id, p.pcell, a.vec_id AS neighbor_id
      FROM rprobes p JOIN rindex a ON a.cent_id = p.pcell
      WHERE a.vec_id <> p.query_id
    ), radc AS (
      SELECT c.query_id, c.neighbor_id, CAST(SUM(dt.d) AS BIGINT) AS adist
      FROM rcands c
      JOIN rq_codes k ON k.vec_id = c.neighbor_id
      JOIN rdt dt ON dt.query_id = c.query_id AND dt.pcell = c.pcell
            AND dt.sub = k.sub AND dt.code_id = k.code_id
      GROUP BY c.query_id, c.neighbor_id
    ), rshort AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adist, neighbor_id) AS rn
        FROM radc)
      WHERE rn <= 10
    ), rqs AS (
      SELECT vec_id AS query_id, embedding AS qe FROM tr_qv
      WHERE {_QUERY_SAMPLE_SQL}
    )
    SELECT query_id, neighbor_id, sim, rn FROM (
      SELECT s.query_id, s.neighbor_id,
             ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                          q.qe::DOUBLE[]), 4) AS sim,
             ROW_NUMBER() OVER (PARTITION BY s.query_id
               ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                                     q.qe::DOUBLE[]), 4) DESC,
                        s.neighbor_id) AS rn
      FROM rshort s
      JOIN embeddings e ON e.vec_id = s.neighbor_id
      JOIN rqs q ON q.query_id = s.query_id)
    WHERE rn <= 3
    ORDER BY query_id, rn
    """)


def _residual_index(
    spark: SparkSession, sf_dir: str, cents=None, spec: PQSpec = PQ4
):
    """The residual IVFADC index build, shared across probe depths
    (and handed a pre-trained ``cents`` by the recall report): trained
    derived-K cells, per-vector residuals against the OWNING cell,
    residual-trained PQ codebooks, and the 24-byte
    (vec_id, cent_id, pqcode) index. Returns (emb, cents, cb,
    rindex).

    The default (``cents=None``) build is memoized per spec in the
    `_ann_memo_group` for (session, sf_dir) — same registry as
    `_trained_index`, which also supplies its cells (identical seeds,
    rounds and quantized inputs, so reuse ≡ retrain), so the two
    halves evict together generation-atomically. Only K-row centroid
    and subs×codes codebook checkpoints are held; the index itself
    stays a lazy plan. Explicit-``cents`` calls (the recall report's
    shared chain) bypass the memo."""
    grp = None
    if cents is None:
        grp = _ann_memo_group(spark, sf_dir)
        got = grp["residual"].get(spec)
        if got is not None:
            return got
    emb = table(spark, sf_dir, "embeddings")
    n = corpus_rows(sf_dir, "embeddings")
    if cents is None:
        cents = _trained_index(spark, sf_dir)[1]
    rv = _residual_vectors(spark, sf_dir, cents, k=derived_k(n))
    cb = _pq_train(
        rv.select("vec_id", "qemb"),
        _pq_seed_codebooks(rv, spec),
        PQ_TRAIN_ROUNDS,
        spec,
        n_rows=n,
    )
    rindex = _pq_encode(rv, cb, spec=spec, n_rows=n).select(
        "vec_id", "cent_id", *spec.cols
    )
    out = (emb, cents, cb, rindex)
    if grp is not None:
        grp["residual"][spec] = out
    return out


def _residual_probes(
    raw_sample: DataFrame, cents: DataFrame, nprobes, k: int
) -> DataFrame:
    """The sample's (query_id, pcell) probes at max(``nprobes``) over
    the K trained centroids; several depths also keep the probe rank
    (``prank``) that `_residual_serve` filters each depth on."""
    return _probe_ranks(
        raw_sample.select("vec_id", "qemb"), cents, top_m=max(nprobes), k=k
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("cent_id").alias("pcell"),
        *([F.col("cent_rank").alias("prank")] if len(nprobes) > 1 else []),
    )


def _ivfpq_residual_plan(
    spark: SparkSession,
    sf_dir: str,
    nprobes=(_IVFPQ_NPROBE,),
    idx=None,
    spec: PQSpec = PQ4,
) -> dict[int, DataFrame]:
    """Serve top-3 from the residual IVFADC index at every probe depth
    in ``nprobes`` ({depth: frame}): rank the query sample against the
    K trained centroids, build one PER-CELL ADC table from the query's
    residual against each probed cell's centroid, scan only the probed
    cells' 24-byte rows, re-rank the 10-row shortlist exactly. ``idx``
    lets the recall report share one `_residual_index` build across
    probe depths."""
    emb, cents, cb, rindex = (
        idx if idx is not None else _residual_index(spark, sf_dir, spec=spec)
    )
    raw_sample = _raw_sample(emb)
    probes = _residual_probes(
        raw_sample, cents, nprobes, derived_k(corpus_rows(sf_dir, "embeddings"))
    )
    return _residual_serve(
        emb, cents, cb, rindex, raw_sample, probes, nprobes, spec
    )


def _residual_serve(
    emb: DataFrame,
    cents: DataFrame,
    cb: DataFrame,
    rindex: DataFrame,
    raw_sample: DataFrame,
    probes: DataFrame,
    nprobes,
    spec: PQSpec = PQ4,
) -> dict[int, DataFrame]:
    """The residual IVFADC serving tail over an EXPLICIT index and the
    sample's `_residual_probes` — the shared plan of the in-plan
    queries (`_ivfpq_residual_plan`) and the persisted-index serving
    path (`serve_persisted_topk`, which hands a cell-PRUNED ``rindex``
    scan plus the probes that derived the pruning so the probe
    assignment isn't computed twice). Returns {depth: frame} for every
    depth in ``nprobes``.

    Several depths share ONE ADC candidate pass (the recall report's
    cost bound): per-(query, cell) residual distance tables build once
    for the union of probed cells, the probed-cell scan + ADC lookup
    materializes once (localCheckpointed), and depth d is the
    prank <= d rows before its own shortlist window — each vector
    indexes in exactly its rank-1 cell, so those are exactly the
    one-depth plan's (query, neighbor) pairs with the same keyed-ADC
    distances. A one-depth call plans neither.

    The exact re-rank always takes the shortlist-id pushdown
    (`_shortlist_id_pushdown`): the shortlist's neighbor ids push into
    the embeddings scan as an In(vec_id …) filter, removing the
    corpus-width raw-vector read."""
    shared = len(nprobes) > 1
    rank = ("prank",) if shared else ()
    qres = (
        probes.join(
            F.broadcast(
                raw_sample.select(F.col("vec_id").alias("query_id"), "qemb")
            ),
            "query_id",
        )
        .join(
            F.broadcast(cents.withColumnRenamed("cent_id", "pcell")), "pcell"
        )
        .select(
            "query_id",
            "pcell",
            F.zip_with("qemb", "cemb", lambda a, b: a - b).alias("qq"),
        )
    )
    dtab = _pq_dtab(qres, cb, keys=("query_id", "pcell"), spec=spec)

    cands = (
        rindex.join(F.broadcast(probes), F.col("cent_id") == F.col("pcell"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "pcell",
            *rank,
            F.col("vec_id").alias("neighbor_id"),
            *spec.cols,
        )
    )
    adc = cands.join(F.broadcast(dtab), ["query_id", "pcell"]).select(
        "query_id", *rank, "neighbor_id", _pq_adist(spec).alias("adist")
    )
    if shared:
        adc = adc.localCheckpoint(eager=False)
    # A neighbor indexed near a cell boundary still appears ONCE (each
    # vector indexes in exactly its rank-1 cell), but deeper probes can
    # hit it through at most one probed cell, so no DISTINCT is needed:
    # (query_id, neighbor_id) pairs are unique by construction.
    w = Window.partitionBy("query_id").orderBy("adist", "neighbor_id")
    queries = raw_sample.select(F.col("vec_id").alias("query_id"), "qe")
    out = {}
    for d in nprobes:
        short = (
            (adc.filter(F.col("prank") <= d) if shared else adc)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 10)
            .select("query_id", "neighbor_id")
        )
        emb_d, short = _shortlist_id_pushdown(emb, short)
        out[d] = _pq_exact_rerank(emb_d, short, queries)
    return out


@query(
    "sim_ivfpq_residual_topk",
    oracle=_ivfpq_residual_oracle(_IVFPQ_NPROBE),
    tags=("similarity", "pq", "ivf", "ann", "derived-k", "kmeans", "residual"),
)
def sim_ivfpq_residual_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True IVFADC (Jegou et al. 2011 §IV): PQ codebooks trained on
    the RESIDUALS (x − trained-cell centroid) instead of raw vectors —
    residuals concentrate near zero, so the same 16-codeword budget
    spends its resolution where the vectors actually are, closing the
    global-codebook simplification sim_ivfpq_topk documents. Each
    vector indexes once (its nearest trained cell) as
    (vec_id, cent_id, pqcode-of-residual); a probe ranks the query's
    top-{_IVFPQ_NPROBE} cells and builds a PER-CELL ADC table from
    the query's residual against THAT cell's centroid — the lookup
    join keys on (query, cell, sub, code). Costs match sim_ivfpq_topk
    (24-byte rows, ~{_IVFPQ_NPROBE}·sqrt(n) candidate rows, 10-row
    exact re-rank) plus one broadcast-K residual subtraction per
    corpus pass — the residual never materializes outside the
    projection."""
    return _ivfpq_residual_plan(spark, sf_dir)[_IVFPQ_NPROBE]


# ---------------------------------------------------------------------------
# Corpus-size-aware code width — the BYTES production dial. The 4-bit
# 8-byte code above is constant entropy: its recall@3 decays
# 0.600 -> 0.250 -> 0.150 across sf0.1 -> 1 -> 10 (SCALE.md) while the
# corpus grows. The 8-bit family (16 subspaces x 256 codewords,
# 16 bytes/vector packed as two BIGINTs) is the next step of the dial;
# `pq_spec_for(corpus_rows)` derives the width from the parquet footer
# rowcount the way `derived_k` derives the cell count. Serving cost is
# unchanged in shape: per query a subs x codes integer table
# broadcasts and each candidate costs spec.subs shift/mask lookups.
# ---------------------------------------------------------------------------


@query(
    "sim_pq8_encode",
    oracle="WITH "
    + _pq_cte(spec=PQ8)
    + """
    SELECT vec_id, pqcode, pqcode2 FROM packed ORDER BY vec_id
    """,
    tags=("similarity", "pq", "ann", "pq8"),
)
def sim_pq8_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 16-byte packed PQ index: every 64-dim vector compressed to
    TWO BIGINTs (16 subspace codes x 8 bits, subs 0-7 in `pqcode`,
    8-15 in `pqcode2`). Same one-pass cogrouped-Arrow build as the
    8-byte index; the top byte of each word can set the sign bit, so
    packing wraps two's-complement identically in both engines (numpy
    uint64 view / DuckDB HUGEINT wrap — see `_pq_encode`/`_pq_cte`).
    This is the scale half of the width dial: 10^9 vectors index in
    ~16 GB with 65536x the code entropy of the 4-bit index
    (256^16 vs 16^8 reconstruction points)."""
    _, _, codes, _ = _pq_parts(spark, sf_dir, spec=PQ8)
    return codes.orderBy("vec_id")


@query(
    "sim_pq8_rerank_topk",
    oracle="WITH "
    + _pq_cte(spec=PQ8)
    + ", "
    + _pq_adc_sql(spec=PQ8)
    + _pq_rerank_sql(10),
    tags=("similarity", "pq", "ann", "pq8"),
)
def sim_pq8_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ serving over the 16-byte codes (seeded codebooks,
    ADC shortlist 10, exact re-rank to top-3) — schema- and
    depth-identical to sim_pq_rerank_topk so the recall report
    isolates exactly what the second word of code buys."""
    return _pq_rerank_plan(spark, sf_dir, train_rounds=0, depth=10, spec=PQ8)


@query(
    "sim_pq8_trained_rerank_topk",
    oracle="WITH "
    + _pq_cte(train_rounds=PQ_TRAIN_ROUNDS, spec=PQ8)
    + ", "
    + _pq_adc_sql(spec=PQ8)
    + _pq_rerank_sql(50),
    tags=("similarity", "pq", "ann", "pq8", "kmeans"),
)
def sim_pq8_trained_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production 16-byte serving shape: {PQ_TRAIN_ROUNDS} Lloyd
    rounds over the 16x256 codebooks (same one-corpus-pass-per-round
    trainer — the subspace is data), ADC shortlist 50, exact re-rank.
    Depth-identical to sim_pq_trained_rerank_topk: the recall report's
    pq8_trained vs pq_trained rows measure the width dial at equal
    rows and equal training, isolating bytes-per-vector as the only
    variable. SCALE.md round-10 table: the 16-byte code holds recall
    across sf0.1 -> 10 where the 8-byte code decays."""
    return _pq_rerank_plan(
        spark, sf_dir, train_rounds=PQ_TRAIN_ROUNDS, depth=50, spec=PQ8
    )


@query(
    "sim_ivfpq_residual_np4_topk",
    oracle=_ivfpq_residual_oracle(4),
    tags=(
        "similarity", "pq", "ivf", "ann", "derived-k", "kmeans",
        "residual", "multiprobe",
    ),
)
def sim_ivfpq_residual_np4_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe dial composed with COMPRESSED serving: the residual
    IVFADC index (sim_ivfpq_residual_topk) probed at the query's FOUR
    nearest trained cells instead of two. Round 9 proved the dial on
    raw vectors (ivf_trained_np4 recall@3 0.450 at sf1); this is the
    same ~nprobe·sqrt(n)-row budget paying 24 bytes/row instead of
    ~270 — candidates stay bounded by the probed cells, each probed
    cell gets its own residual ADC table (keyed (query, cell, sub,
    code)), and raw-vector IO stays confined to the 10-row shortlist.
    Each vector indexes once (its rank-1 cell), so (query, neighbor)
    pairs stay unique across probes — no dedup stage. Audited as
    ivfpq_residual_np4 in sim_recall_report."""
    return _ivfpq_residual_plan(spark, sf_dir, nprobes=(4,))[4]


@query(
    "sim_ivfpq8_residual_np4_topk",
    oracle=_ivfpq_residual_oracle(4, PQ8),
    tags=(
        "similarity", "pq", "ivf", "ann", "derived-k", "kmeans",
        "residual", "multiprobe", "pq8",
    ),
)
def sim_ivfpq8_residual_np4_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ALL three production dials composed: residual-trained IVFADC
    cells (rows bounded by the 4 probed ~sqrt(n) cells), 16-byte 8-bit
    residual codes (bytes bounded, entropy that holds at scale —
    SCALE.md round 10), nprobe=4 (the recall dial). This exists
    because the round-10 scale audit showed the dials are NOT
    independent: composing nprobe=4 with the 4-bit residual code
    bought nothing (0.075 vs np2's 0.083 at sf10 — the coarse ADC
    ranking polluted the wider candidate set), while the same probe
    budget over 8-bit codes ranks it correctly. The 32-byte index row
    (vec_id, cent_id, 2 words) still reads ~10x less IO per candidate
    than raw vectors, and the exact pass stays shortlist-bounded."""
    return _ivfpq_residual_plan(spark, sf_dir, nprobes=(4,), spec=PQ8)[4]


def _scale_gated_oracle(small_sql: str, large_sql: str) -> str:
    """Compose the two width-branch oracles into ONE scale-aware text:
    each branch keeps its own WITH scope inside a subquery (no CTE
    prefix collisions), and a parquet-metadata rowcount gate selects
    exactly the branch the Spark side's `pq_spec_for` derivation picks
    — so a correctness run at ANY scale diffs against the width the
    query actually serves (ADVICE r10: the previous fixed-PQ4 text
    would falsely fail at >= PQ_WIDTH_THRESHOLD rows)."""
    return f"""
    WITH nrows AS (SELECT COUNT(*) AS n FROM embeddings)
    SELECT query_id, neighbor_id, sim, rn FROM (
    {small_sql}
    ) WHERE (SELECT n FROM nrows) < {PQ_WIDTH_THRESHOLD}
    UNION ALL
    SELECT query_id, neighbor_id, sim, rn FROM (
    {large_sql}
    ) WHERE (SELECT n FROM nrows) >= {PQ_WIDTH_THRESHOLD}
    ORDER BY query_id, rn
    """


@query(
    "sim_pq_auto_rerank_topk",
    # Scale-aware oracle: the PQ4 branch binds below PQ_WIDTH_THRESHOLD
    # (the driver's sf0.01 scale), the PQ8 branch at or above it —
    # mirroring the Spark side's pq_spec_for derivation exactly.
    oracle=_scale_gated_oracle(
        "WITH "
        + _pq_cte(train_rounds=PQ_TRAIN_ROUNDS)
        + ", "
        + _pq_adc_sql()
        + _pq_rerank_sql(50),
        "WITH "
        + _pq_cte(train_rounds=PQ_TRAIN_ROUNDS, spec=PQ8)
        + ", "
        + _pq_adc_sql(spec=PQ8)
        + _pq_rerank_sql(50),
    ),
    tags=("similarity", "pq", "ann", "kmeans", "auto-width"),
)
def sim_pq_auto_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production serving entry with the width dial ON AUTO:
    `pq_spec_for(corpus_rows)` picks the code width from the parquet
    footer rowcount (no count() scan) the way `derived_k` picks the
    cell count — 8-byte 4-bit codes below 20k rows, 16-byte 8-bit
    codes at scale, where the fixed-width family's recall decays
    (SCALE.md round-10: 0.60→0.15 at 8 bytes vs 0.99→0.91 at 16).
    Same trained two-stage shape as sim_pq_trained_rerank_topk /
    sim_pq8_trained_rerank_topk; this query is the one a pipeline
    calls when it doesn't want to think about width."""
    spec = pq_spec_for(corpus_rows(sf_dir, "embeddings"))
    return _pq_rerank_plan(
        spark, sf_dir, train_rounds=PQ_TRAIN_ROUNDS, depth=50, spec=spec
    )


@query(
    "sim_pq8_index_stats",
    oracle="WITH "
    + _pq_cte(spec=PQ8)
    + ", "
    + _pq_cte(prefix="t8_", train_rounds=PQ_TRAIN_ROUNDS, spec=PQ8)
    + """
    , sd AS (
      SELECT vec_id, CAST(SUM(md) AS BIGINT) AS pqdist FROM (
        SELECT vec_id, sub, MIN(d) AS md FROM ed GROUP BY vec_id, sub)
      GROUP BY vec_id
    ), tsd AS (
      SELECT vec_id, CAST(SUM(md) AS BIGINT) AS pqdist FROM (
        SELECT vec_id, sub, MIN(d) AS md FROM t8_ed GROUP BY vec_id, sub)
      GROUP BY vec_id
    )
    SELECT * FROM (
      SELECT 'seeded' AS variant, CAST(COUNT(*) AS BIGINT) AS n_vectors,
             CAST(SUM(pqdist) AS BIGINT) AS total_distortion,
             ROUND(SUM(pqdist) * 1.0 / COUNT(*), 4) AS mean_distortion
      FROM sd
      UNION ALL
      SELECT 'trained', CAST(COUNT(*) AS BIGINT),
             CAST(SUM(pqdist) AS BIGINT),
             ROUND(SUM(pqdist) * 1.0 / COUNT(*), 4)
      FROM tsd)
    ORDER BY variant
    """,
    tags=("similarity", "pq", "ann", "pq8", "kmeans"),
)
def sim_pq8_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-health audit at 16 bytes/vector: seeded vs trained
    quantization distortion for the 8-bit codebooks — the width twin
    of sim_pq_index_stats, closing the nightly-metric story for the
    production (auto-width) index. The SCALE.md round-10 table reads
    the two audits together: distortion at 16 bytes sits far below the
    8-byte floor (finer subspaces AND 16x the codewords), which is
    WHY pq8_trained recall holds ~0.91 at sf10 where the 8-byte code
    fell to 0.15."""
    emb = table(spark, sf_dir, "embeddings")
    qemb = emb.select(
        "vec_id", quantize_embedding(F.col("embedding")).alias("qemb")
    )
    n = corpus_rows(sf_dir, "embeddings")
    cb0 = _pq_codebooks(emb, PQ8)
    out = None
    for variant, cb in (
        ("seeded", cb0),
        ("trained", _pq_train(qemb, cb0, PQ_TRAIN_ROUNDS, PQ8, n_rows=n)),
    ):
        stats = (
            _pq_encode(qemb, cb, with_dist=True, spec=PQ8, n_rows=n)
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_vectors"),
                F.sum("pqdist").cast("long").alias("total_distortion"),
                F.round(
                    F.sum("pqdist") / F.count(F.lit(1)), 4
                ).alias("mean_distortion"),
            )
            .select(F.lit(variant).alias("variant"), "*")
        )
        out = stats if out is None else out.unionAll(stats)
    return out.orderBy("variant")

# ---------------------------------------------------------------------------
# Persisted, cell-partitioned batch ANN serving (round 11). The batch
# sim_* family above builds its index inside each query plan — correct
# for oracle certification, but the "~nprobe·2·sqrt(n) candidate rows"
# budget then bounds COMPUTE, not IO: the full index column is scanned
# and filtered. Production serving builds ONCE (`persist_ann_index`),
# writes the index cell-partitioned (directory partitioning on
# cent_id), and every serve partition-prunes the index scan to the
# probed cells — at 100 TB the scan reads ~nprobe·|queries| cell
# directories (~nprobe·2·sqrt(n) rows of spec.index_bytes+16 bytes),
# never the corpus. Same discipline the streaming side already
# plan-tests (streaming/vector_ingest.py:146-159).
# ---------------------------------------------------------------------------

# IN-literal pushdown cap for the probed-cell partition filter: below
# it the probed cent_ids inline as literals (Catalyst folds them into
# PartitionFilters — directory-level pruning, zero non-probed bytes
# read); above it a broadcast semi-join bounds plan size instead (same
# discipline as streaming/dedup_ingest.CAND_PUSHDOWN_MAX_IDS; the cap
# differs because a partition-filter literal list lives in the plan
# tree, not a shuffle).
ANN_CELL_PUSHDOWN_MAX_IDS = 10_000

_INDEX_OK = "_INDEX_OK"


def persist_ann_index(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    spec: PQSpec | None = None,
) -> PQSpec:
    """Build the residual IVFADC index ONCE and persist it for
    partition-pruned serving: trained derived-K centroids
    (``centroids/``, K rows), residual-trained PQ codebooks
    (``codebooks/``, spec.subs x spec.codes rows), and the packed code
    index (``rindex/``) written PARTITIONED BY cent_id so a probe's
    scan directory-prunes to its cells. ``spec`` defaults to the
    corpus-size-derived width (`pq_spec_for` — footer rowcount, no
    count() scan). The ``_INDEX_OK`` marker commits the build (written
    last); spec parameters ride ``spec.json`` so serving needs no
    caller coordination. Deterministic: same corpus → byte-identical
    index, so rebuilding after loss (or racing builders) converges.

    All integer artifacts (quantized centroids, codewords, packed
    codes) round-trip parquet exactly — persisted serving is
    output-identical to the in-plan twin (`sim_ivfpq8_residual_np4_topk`),
    which the shared oracle certifies. Spec + marker are written
    through the Hadoop FileSystem API so the build commits atomically
    on whatever filesystem ``out_dir`` names (s3a://, hdfs://, file:,
    bare local) — never half-commits with driver-local artifacts."""
    import json

    if spec is None:
        spec = pq_spec_for(corpus_rows(sf_dir, "embeddings"))
    emb = table(spark, sf_dir, "embeddings")
    n = corpus_rows(sf_dir, "embeddings")
    qemb = emb.select(
        "vec_id", quantize_embedding(F.col("embedding")).alias("qemb")
    )
    k = derived_k(n)
    cents, _ = lloyd_train(
        qemb, _centroids(emb, k), max_rounds=TRAINED_DERIVED_ROUNDS, tol=0,
        n_rows=n,
    )
    # Each stage builds from the CHECKPOINTED predecessor so training
    # runs once per artifact, not once per downstream consumer;
    # lloyd_train already returns a fresh eager checkpoint.
    cents.write.mode("overwrite").parquet(f"{out_dir}/centroids")
    rv = _residual_vectors(spark, sf_dir, cents, k=k)
    cb = _pq_train(
        rv.select("vec_id", "qemb"), _pq_seed_codebooks(rv, spec),
        PQ_TRAIN_ROUNDS, spec, n_rows=n,
    ).localCheckpoint(eager=True)
    cb.write.mode("overwrite").parquet(f"{out_dir}/codebooks")
    # with_dist rides the SAME encode pass (one cogrouped kernel run,
    # checkpointed) so the build-time distortion baseline — the
    # refresh_ann_index_versioned retrain trigger's denominator — costs
    # an aggregate over the checkpoint, not a second corpus encode.
    encoded = (
        _pq_encode(rv, cb, with_dist=True, spec=spec, n_rows=n)
        .select("vec_id", "cent_id", "pqdist", *spec.cols)
        .localCheckpoint(eager=True)
    )
    # One file per cell: without the repartition every encode task
    # writes its own fragment into every cell directory (measured 30
    # files/cell at sf10 — the serve scan then pays per-file open
    # cost instead of one footer per probed cell). Cells are ~2·√n
    # rows of ≤32 B, so a single file per cell stays ~1-2 MB even at
    # 10^9 vectors (K=⌈√n⌉ grows with the corpus).
    (
        encoded.select("vec_id", "cent_id", *spec.cols)
        .repartition("cent_id")
        .write.mode("overwrite")
        .partitionBy("cent_id")
        .parquet(f"{out_dir}/rindex")
    )
    # IVF-Flat exact-vector component (round 16, VERDICT r15 #2): the
    # top-2 cell assignment with the ORIGINAL float vectors riding the
    # rows, partitioned by cent_id — the candidate-generation layout
    # the exact-rerank retrieval paths (sim_mmr_ann_multi_persisted,
    # ANN hard negatives) serve from. The PQ rindex answers
    # compressed-distance serving; exact re-rank/diversify needs the
    # true vectors at the probed cells WITHOUT a corpus join. Floats
    # round-trip parquet exactly and the assignment is the same
    # deterministic _assign_blas pass `_trained_index` runs in-plan
    # (identical trained cents), so persisted candidate pools are
    # value-identical to the in-plan twin's.
    # `label` rides the index rows (round 16): the ANN hard-negative
    # miner's anti-predicate then runs IN the pruned index scan — the
    # attribute-column discipline the in-plan miner's docstring
    # promises ("at 100 TB the label simply lives in the persisted
    # index").
    # Corpora without a label column (streaming ingests, drift-refresh
    # rebuilds over bare (vec_id, embedding) parquet) still get the L4
    # layout: a typed NULL keeps mindex's pinned read schema stable.
    label_col = (
        F.col("label") if "label" in emb.columns else F.lit(None).cast("int")
    )
    mindex = _assign_blas(
        emb.select(
            "vec_id",
            "embedding",
            label_col.alias("label"),
            quantize_embedding(F.col("embedding")).alias("qemb"),
        ),
        cents,
        top_m=2,
        out_cols=["vec_id", "embedding", "label"],
        n_rows=n,
        k=k,
    ).select("vec_id", "embedding", "label", "cent_id", "cent_rank")
    (
        mindex.repartition("cent_id")
        .write.mode("overwrite")
        .partitionBy("cent_id")
        .parquet(f"{out_dir}/mindex")
    )
    st = encoded.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("pqdist").alias("m"),
    ).first()
    _fs_write_text(
        spark,
        f"{out_dir}/stats.json",
        json.dumps(
            {
                "n_vectors": st["n"],
                "mean_distortion": float(st["m"] or 0.0),
            }
        ),
    )
    _fs_write_text(spark, f"{out_dir}/spec.json", json.dumps(spec._asdict()))
    _fs_write_text(spark, f"{out_dir}/{_INDEX_OK}")
    # the build's scaffolding checkpoints are fully consumed by the
    # writes/stats above — free their blocks (round 14: a nightly
    # build loop otherwise pins one generation per run)
    for df in (cents, cb, encoded):
        _unpersist_checkpoint(df)
    return spec


def _residual_vectors(
    spark: SparkSession, sf_dir: str, cents: DataFrame, *, k: int
) -> DataFrame:
    """(vec_id, cent_id, qemb): each corpus vector's quantized residual
    against its nearest (rank-1) centroid — the encode input of the
    residual index, against an EXPLICIT ``k``-row (or fewer) centroid
    table."""
    emb = table(spark, sf_dir, "embeddings")
    qemb = emb.select(
        "vec_id", quantize_embedding(F.col("embedding")).alias("qemb")
    )
    a1 = _assign_blas(
        qemb, cents, n_rows=corpus_rows(sf_dir, "embeddings"), k=k
    )
    return a1.join(F.broadcast(cents), "cent_id").select(
        "vec_id",
        "cent_id",
        F.zip_with("qemb", "cemb", lambda a, b: a - b).alias("qemb"),
    )


def load_ann_index_spec(spark: SparkSession, index_dir: str) -> PQSpec:
    """Read the persisted spec through the Hadoop FileSystem API (any
    URI the cluster supports)."""
    import json

    return PQSpec(**json.loads(_fs_read_text(spark, f"{index_dir}/spec.json")))


class AnnIndexHandle(NamedTuple):
    """Hold-open serving handle over one persisted index: the loaded
    spec, the three artifact DataFrames, and ``k`` — the derived K of
    the build corpus (`stats.json`), which bounds the centroid rows
    (Lloyd only drops cells) and sizes every probe without a Spark
    job. The DataFrames pin their
    resolved FileIndex, so the parallel partition-listing job a fresh
    ``spark.read.parquet`` pays over the >32 cell directories (one
    task per dir — 448-task stages dominated the sf10 warm serve wall,
    SCALE.md round 11 §2) runs ONCE at load; every serve against the
    handle partition-prunes over the in-memory partition specs with no
    filesystem access. Production shape: load at service start, serve
    all day; a rebuilt index lands in a new directory (content-keyed),
    so a handle is never stale."""

    spec: PQSpec
    cents: DataFrame
    cb: DataFrame
    rindex: DataFrame
    k: int


_INDEX_HANDLE_CACHE: dict = {}
# Bounded like the _ANN_MEMO registry (ADVICE r14): a long-lived
# driver creating sessions per request (spark.newSession) must not
# accumulate handles — and the strong SparkSession key — forever.
# Handles hold only LAZY plans (no pinned blocks), so eviction is a
# plain dict drop; a re-load pays one listing stage again.
_INDEX_HANDLE_MAX = 8


def _sweep_index_handles() -> None:
    """Drop handles owned by STOPPED sessions (their plans are dead
    weight: unusable, and each key strongly pins a SparkSession)."""
    for key in list(_INDEX_HANDLE_CACHE):
        try:
            stopped = key[0].sparkContext._jsc is None
        except Exception:
            stopped = True
        if stopped:
            _INDEX_HANDLE_CACHE.pop(key, None)


def load_ann_index(
    spark: SparkSession, index_dir: str, spec: PQSpec | None = None
) -> AnnIndexHandle:
    """Load (or reuse) the hold-open handle for a committed
    `persist_ann_index` build. Cached per (owning SparkSession OBJECT,
    index_dir) — the session, not the applicationId, because the
    handle's DataFrames are session-bound plans (the `_ann_memo_group`
    key discipline; two sessions of one application must not share
    them). Repeated `serve_persisted_topk` calls in one session — the
    driver's per-round reruns, a serving loop — share one listing
    instead of paying a full-width listing stage per serve."""
    key = (spark, index_dir)
    cached = _INDEX_HANDLE_CACHE.pop(key, None)  # pop+reinsert = LRU
    if cached is not None:
        _INDEX_HANDLE_CACHE[key] = cached
        return cached
    _sweep_index_handles()
    if spec is None:
        spec = load_ann_index_spec(spark, index_dir)
    cents = spark.read.parquet(f"{index_dir}/centroids")
    cb = spark.read.parquet(f"{index_dir}/codebooks")
    # Explicit schema: a DEGENERATE (empty) corpus partitionBy-writes
    # zero data files, and schema inference over an empty directory
    # fails; the index schema is fully determined by the spec anyway.
    rindex_schema = ", ".join(
        ["vec_id bigint"]
        + [f"{c} bigint" for c in spec.cols]
        + ["cent_id bigint"]
    )
    rindex = spark.read.schema(rindex_schema).parquet(f"{index_dir}/rindex")
    k = derived_k(load_ann_index_stats(spark, index_dir)["n_vectors"])
    handle = AnnIndexHandle(spec, cents, cb, rindex, k)
    _INDEX_HANDLE_CACHE[key] = handle
    while len(_INDEX_HANDLE_CACHE) > _INDEX_HANDLE_MAX:
        _INDEX_HANDLE_CACHE.pop(next(iter(_INDEX_HANDLE_CACHE)))
    return handle


def serve_persisted_topk(
    spark: SparkSession,
    sf_dir: str,
    index_dir: str,
    nprobe: int = 4,
    spec: PQSpec | None = None,
) -> DataFrame:
    """Top-3 serving from a `persist_ann_index` build, with the index
    scan PARTITION-PRUNED to the probed cells: the query sample ranks
    against the persisted K-row centroid table (one tiny job,
    localCheckpointed so assignment runs once), the probed cent_ids
    collect driver-side (≤ |queries|·nprobe values — batch-bounded,
    corpus-independent), and below `ANN_CELL_PUSHDOWN_MAX_IDS` they
    inline as an IN-literal the parquet source turns into
    PartitionFilters (plan-tested); above it a broadcast semi-join
    takes over. Everything downstream is the exact serving tail the
    in-plan queries run (`_residual_serve`), so results are identical —
    only the scan's IO changes, from the full index to
    ~nprobe·|queries| cell directories (`_cell_pruned`). The index
    artifacts come from the session-cached hold-open handle
    (`load_ann_index`), so the per-serve partition-listing job is paid
    once per session, not per serve (round 12)."""
    spec, cents, cb, rindex, k = load_ann_index(spark, index_dir, spec)
    emb = table(spark, sf_dir, "embeddings")
    raw_sample = _raw_sample(emb)
    # assign once: the cell collect and the serve's join both reuse it
    probes = _residual_probes(raw_sample, cents, (nprobe,), k).localCheckpoint(
        eager=True
    )
    return _residual_serve(
        emb,
        cents,
        cb,
        _cell_pruned(rindex, probes),
        raw_sample,
        probes,
        (nprobe,),
        spec,
    )[nprobe]


def _ensure_persisted_index(
    spark: SparkSession, sf_dir: str, spec: PQSpec
) -> str:
    """Idempotent cached build keyed by (corpus path, content
    fingerprint, spec): build into a private temp dir, then one atomic
    rename into the cache slot — a racing builder loses the rename and
    discards its (byte-identical, deterministic) copy. The registered
    query uses this so the driver's repeated runs serve from one
    build, the shape production serving has (build nightly, serve all
    day). The key folds in the embeddings files' (size, mtime)
    fingerprint — catalog.corpus_fingerprint, the same identity
    corpus_rows memoizes on — so a REGENERATED corpus with the same
    rowcount invalidates the slot instead of silently serving stale
    neighbors (ADVICE r11)."""
    import hashlib
    import os

    from wikid_spark.catalog import corpus_fingerprint, ensure_cached_build

    fp = corpus_fingerprint(sf_dir, "embeddings")
    # v2: one-file-per-cell layout (repartition before partitionBy)
    # v3: mindex/ IVF-Flat exact-vector component landed (round 16)
    # v4: label attribute column rides mindex/ rows (round 16)
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{fp}|{spec.subs}x{spec.codes}|v4".encode()
    ).hexdigest()[:16]
    return ensure_cached_build(
        "wikid_ann_index",
        key,
        lambda build: persist_ann_index(spark, sf_dir, build, spec),
        _INDEX_OK,
    )


# ---------------------------------------------------------------------------
# Persisted-index lifecycle: the retrain trigger that CONSUMES
# sim_pq_index_stats' nightly metric. A persisted index trained on
# corpus C0 degrades as the corpus evolves — encoding today's corpus
# with yesterday's centroids+codebooks raises mean quantization
# distortion above the build-time baseline recorded in stats.json.
# `refresh_ann_index_versioned` measures that drift and, past the
# threshold, publishes a rebuilt version behind the pointer layout
# below.
# ---------------------------------------------------------------------------

# Drift threshold: mean distortion of the CURRENT corpus under the
# persisted artifacts, over the build-time mean. 1.25 ~= "the codebooks
# explain 25% less variance than at build" — at that point measured
# recall curves (SCALE.md round 9/10 distortion-vs-recall tables) have
# visibly sagged; production tunes this against its recall SLA.
REFRESH_DISTORTION_RATIO = 1.25


def load_ann_index_stats(spark: SparkSession, index_dir: str) -> dict:
    """Build-time quality baseline written by `persist_ann_index`:
    {n_vectors, mean_distortion} of the build corpus under the
    just-trained artifacts."""
    import json

    return json.loads(_fs_read_text(spark, f"{index_dir}/stats.json"))


def measure_index_distortion(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> dict:
    """{n_vectors, mean_distortion} of the CURRENT corpus encoded with
    the PERSISTED artifacts — residuals against the persisted
    centroids, coded by the persisted codebooks. Same exact-integer
    metric as the build baseline and sim_pq_index_stats, so the ratio
    is dimensionless drift. One corpus encode pass (the nightly-audit
    cost, same as sim_pq_index_stats per variant)."""
    handle = load_ann_index(spark, index_dir)
    rv = _residual_vectors(spark, sf_dir, handle.cents, k=handle.k)
    row = (
        _pq_encode(
            rv,
            handle.cb,
            with_dist=True,
            spec=handle.spec,
            n_rows=corpus_rows(sf_dir, "embeddings"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.avg("pqdist").alias("m"),
        )
        .first()
    )
    return {"n_vectors": row["n"], "mean_distortion": float(row["m"] or 0.0)}


# ---------------------------------------------------------------------------
# Versioned / pointer index layout (round 14): the ONE promotion path.
# It never renames a directory — a rename is a COPY on S3/GCS/ABFS,
# where a reader could observe a half-copied live tree. Every build
# lands in an immutable content-keyed `<root>/versions/<vid>/`
# (committed by its own _INDEX_OK, the persist_ann_index contract),
# and promotion is ONE single-object
# overwrite of the `<root>/CURRENT` pointer — a whole-object PUT,
# atomic on every major object store. Crash anywhere leaves either
# the old pointer (safe: old version dirs are never mutated) or a
# committed-but-unpointed version (the next refresh flips the pointer
# without rebuilding — the ids are content-keyed, so the decision is
# deterministic from storage alone).
#
# Serving: resolve_current_index() -> dir, then the normal
# serve_persisted_topk / load_ann_index path. A version dir's content
# never changes after commit, so hold-open handles are NEVER stale —
# the pointer flip needs no handle invalidation, and in-flight serves
# against the superseded version keep working until gc_index_versions
# (keep >= 2 gives one full swap of grace).
# ---------------------------------------------------------------------------


def index_version_id(sf_dir: str, spec: PQSpec) -> str:
    """Content-keyed version id: digest of (corpus content fingerprint,
    spec). Identical corpus bytes + spec always map to one version
    dir, so racing publishers converge on the same immutable artifacts
    (persist_ann_index is deterministic) and re-publishing an
    unchanged corpus is a pointer no-op, not a rebuild."""
    import hashlib

    from wikid_spark.catalog import corpus_fingerprint

    fp = corpus_fingerprint(sf_dir, "embeddings")
    # Layout generation (mindex/ added round 16; label column rides
    # mindex rows since L4) — a version built by older code must not
    # be pointer-reused by a serve that expects the exact-vector
    # component or its attribute columns.
    return hashlib.md5(
        f"{fp}|{spec.subs}x{spec.codes}|{_INDEX_LAYOUT_GEN}".encode()
    ).hexdigest()[:16]


# Bump together with every on-disk layout change; folded into
# index_version_id AND recorded in each version's version.json so
# maybe_refresh_index can tell a layout-only pointer mismatch (forced
# migration) from a corpus-content change (drift-thresholded).
_INDEX_LAYOUT_GEN = "L4"


def read_current_version(spark: SparkSession, root: str) -> str | None:
    from wikid_spark.versioned import read_current_version as _rcv

    return _rcv(spark, root)


def resolve_current_index(spark: SparkSession, root: str) -> str:
    """The live version dir the pointer names (generic engine:
    `wikid_spark.versioned.resolve_current` — see its retry note)."""
    from wikid_spark.versioned import resolve_current

    return resolve_current(spark, root, _INDEX_OK)


def publish_index_version(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    spec: PQSpec | None = None,
    writer_id: str | None = None,
    lease_seconds: float | None = None,
) -> dict:
    """Build (if absent) the version for the corpus's CURRENT bytes and
    flip the pointer to it — the ANN instance of the generic
    versioned-root engine (`wikid_spark.versioned.publish_version`,
    which carries the idempotency / lease / heartbeat-cancel /
    provenance contract; extracted round 16 so the FTS index shares it
    verbatim). Callers that already hold the root's lease
    (`refresh_ann_index_versioned`) pass their ``writer_id`` AND their
    ``lease_seconds`` — the acquire is then a heartbeat renew sized to
    the caller's cadence, not a second lock (ADVICE r14/r15). Returns
    {version, dir, built, previous}."""
    from wikid_spark.catalog import corpus_fingerprint
    from wikid_spark.versioned import publish_version

    if spec is None:
        spec = pq_spec_for(corpus_rows(sf_dir, "embeddings"))
    return publish_version(
        spark,
        root,
        index_version_id(sf_dir, spec),
        lambda vdir: persist_ann_index(spark, sf_dir, vdir, spec),
        _INDEX_OK,
        corpus_fingerprint(sf_dir, "embeddings"),
        _INDEX_LAYOUT_GEN,
        writer_id=writer_id,
        lease_seconds=lease_seconds,
    )


def gc_index_versions(spark: SparkSession, root: str, keep: int = 2) -> list[str]:
    """Hold-open GC of superseded ANN versions — generic engine
    (`wikid_spark.versioned.gc_versions`): keeps the ``keep`` most
    recently committed versions plus CURRENT, never touches
    uncommitted dirs. Returns the deleted version ids."""
    from wikid_spark.versioned import gc_versions

    return gc_versions(spark, root, keep, _INDEX_OK)


def refresh_ann_index_versioned(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    ratio: float = REFRESH_DISTORTION_RATIO,
    force: bool = False,
    writer_id: str | None = None,
    lease_seconds: float | None = None,
    keep: int = 2,
) -> dict:
    """Retrain trigger for a versioned ANN root — the consumer of the
    distortion metric sim_pq_index_stats defines. Measures the
    corpus's distortion under the CURRENT version's persisted
    artifacts; past ``ratio`` x its build-time baseline (or
    ``force``), publishes the version for the corpus's current bytes
    — fresh Lloyd centroids, fresh residual codebooks and a
    corpus-size-rederived spec, so a corpus that grew past
    PQ_WIDTH_THRESHOLD widens 8->16-byte codes on the same trigger —
    and GCs old generations. Runs under the ingest single-writer lease
    (streaming/ingest.py, lock dir ``<root>/.refresh_lock``): a second
    live refresher raises ``ConcurrentWriterError``, a crashed one's
    lease expires after ``lease_seconds`` and a successor takes over,
    and a completed refresh releases it. The promotion itself is the
    atomic pointer PUT, so even a lease near-miss cannot produce a
    half-promoted tree — the loser merely re-points to the same
    content-keyed version. Bootstraps an empty root (no committed
    CURRENT) by publishing unconditionally."""
    import uuid

    from wikid_spark.streaming.ingest import (
        DEFAULT_LEASE_SECONDS,
        _acquire_or_renew_lease,
        _release_lease,
    )
    from wikid_spark.versioned import committed_current

    writer_id = writer_id or f"refresh-{uuid.uuid4().hex[:12]}"
    lease_s = DEFAULT_LEASE_SECONDS if lease_seconds is None else lease_seconds
    lock_dir = root + "/.refresh_lock"
    _acquire_or_renew_lease(lock_dir, writer_id, lease_s)
    try:
        current_vid = committed_current(spark, root, _INDEX_OK)
        if current_vid is None:
            pub = publish_index_version(
                spark, sf_dir, root, writer_id=writer_id, lease_seconds=lease_s
            )
            return {
                "refreshed": True,
                "healed": "bootstrapped",
                "version": pub["version"],
                "previous": pub["previous"],
                "built": pub["built"],
                "dropped": gc_index_versions(spark, root, keep),
            }
        cdir = f"{root}/versions/{current_vid}"
        built_stats = load_ann_index_stats(spark, cdir)
        current = measure_index_distortion(spark, sf_dir, cdir)
        base, cur = built_stats["mean_distortion"], current["mean_distortion"]
        if base > 0:
            drift = cur / base
        else:
            drift = 1.0 if cur == 0 else float("inf")
        report = {
            "refreshed": False,
            "healed": "clean",
            "version": current_vid,
            "build_mean_distortion": base,
            "current_mean_distortion": cur,
            "drift_ratio": drift,
            "threshold": ratio,
            "n_vectors": current["n_vectors"],
        }
        if not force and drift <= ratio:
            return report
        # renew after the measurement pass, then publish + GC
        _acquire_or_renew_lease(lock_dir, writer_id, lease_s)
        pub = publish_index_version(
            spark, sf_dir, root, writer_id=writer_id, lease_seconds=lease_s
        )
        report.update(
            refreshed=True,
            version=pub["version"],
            previous=pub["previous"],
            built=pub["built"],
            dropped=gc_index_versions(spark, root, keep),
        )
        return report
    finally:
        _release_lease(lock_dir, writer_id)


def maybe_refresh_index(
    spark: SparkSession,
    sf_dir: str,
    root: str,
    distortion_ratio: float = REFRESH_DISTORTION_RATIO,
    writer_id: str | None = None,
    lease_seconds: float | None = None,
    keep: int = 2,
) -> dict:
    """Drift-TRIGGERED refresh (VERDICT r15 #3): the engine already
    computes every retrain signal — derived K vs the index footer's
    build rowcount, `pq_spec_for` code width, `sim_pq_index_stats`-
    style distortion drift — and has lease-safe promotion
    (`refresh_ann_index_versioned`); this connects them, cheapest
    signal first, so an ingest loop can call it every micro-batch:

      1. no committed CURRENT → bootstrap publish (one build);
      2. CURRENT version already matches the corpus's bytes
         (`index_version_id` — a stat walk, no IO) → no-op: an
         unchanged corpus pays NOTHING per call, not even a footer
         read;
      3. footer rowcount (metadata-only, memoized) moved `derived_k`
         across a √n boundary, or `pq_spec_for` across the code-width
         threshold → the index is mis-SIZED for the corpus regardless
         of distortion: force-publish the re-derived build;
      4. otherwise the corpus changed within the same sizing regime →
         delegate to the distortion-drift trigger, which pays the one
         corpus encode pass (the nightly-audit cost) and publishes
         only past ``distortion_ratio`` × the build baseline.

    Signals are read OUTSIDE the lease; the promotion itself is
    `refresh_ann_index_versioned` / `publish_index_version` under the
    single-writer ``.refresh_lock`` lease, and versions are content-
    keyed, so a racing second trigger converges on the same version id
    — worst case a redundant pointer re-write, never a doubled build
    (both publishers resolve the identical ``_INDEX_OK``-committed
    dir). A CURRENT version published by OLDER code (no provenance, or
    an older layout generation, or the same corpus bytes under a
    changed vid format) force-migrates instead of looping the
    distortion rung forever. Returns the refresh report plus
    ``trigger`` ∈ {bootstrap, current, k_boundary, code_width,
    layout_migration, distortion, none}."""
    from wikid_spark.versioned import committed_current

    kw = dict(writer_id=writer_id, lease_seconds=lease_seconds, keep=keep)
    current_vid = committed_current(spark, root, _INDEX_OK)
    if current_vid is None:
        rep = refresh_ann_index_versioned(spark, sf_dir, root, force=True, **kw)
        rep["trigger"] = "bootstrap"
        return rep
    n_now = corpus_rows(sf_dir, "embeddings")
    spec_now = pq_spec_for(n_now)
    if index_version_id(sf_dir, spec_now) == current_vid:
        return {
            "refreshed": False,
            "version": current_vid,
            "trigger": "current",
        }
    cdir = f"{root}/versions/{current_vid}"
    k_now = derived_k(n_now)
    k_built = derived_k(load_ann_index_stats(spark, cdir)["n_vectors"])
    spec_built = load_ann_index_spec(spark, cdir)
    if k_now != k_built or spec_now != spec_built:
        rep = refresh_ann_index_versioned(spark, sf_dir, root, force=True, **kw)
        rep["trigger"] = (
            "k_boundary" if k_now != k_built else "code_width"
        )
        rep.update(k_built=k_built, k_now=k_now)
        return rep
    # The vid mismatch that got us past step 2 is either real corpus
    # drift (same sizing regime → the distortion rung decides) or a
    # LAYOUT-ONLY mismatch: the CURRENT version was published by older
    # code (pre-provenance, or an older layout generation, or the very
    # bytes we'd publish now under a changed vid format). The latter
    # must force-migrate — distortion of an unchanged corpus is ~1.0
    # forever, which would pin the pointer on a version missing the
    # components current readers expect AND pay a full corpus encode
    # per call doing it (round-16 review).
    from wikid_spark.catalog import corpus_fingerprint
    from wikid_spark.versioned import needs_layout_migration

    if needs_layout_migration(
        spark, cdir, corpus_fingerprint(sf_dir, "embeddings"), _INDEX_LAYOUT_GEN
    ):
        rep = refresh_ann_index_versioned(spark, sf_dir, root, force=True, **kw)
        rep["trigger"] = "layout_migration"
        return rep
    rep = refresh_ann_index_versioned(
        spark, sf_dir, root, ratio=distortion_ratio, **kw
    )
    rep["trigger"] = "distortion" if rep["refreshed"] else "none"
    return rep


def drift_refresh_writer(
    writer,
    spark: SparkSession,
    sf_dir: str,
    root: str,
    every: int = 1,
    on_report=None,
    refresh_fn=None,
    **kw,
):
    """Wrap a foreachBatch callable with the drift-refresh hook: after
    each micro-batch (every ``every``-th), the refresh ladder runs the
    cheap-first signals and lease-promotes when a trigger fires — the
    production shape VERDICT r15 #3 names, where ingest grows the
    corpus and the serving index follows it without an external
    scheduler. ``refresh_fn(spark, sf_dir, root, **kw)`` defaults to
    the ANN ladder (`maybe_refresh_index`); pass
    `operators.fts.maybe_refresh_fts_index` for the lexical index —
    and because the wrapper composes, one stream can hook BOTH engines
    by wrapping twice (round 16). The hook runs AFTER the wrapped
    writer so a batch's own appends are visible to its refresh
    decision, and between micro-batches from Structured Streaming's
    view (foreachBatch is the batch boundary). ``on_report`` (if
    given) receives ``(batch_id, report)`` for observability."""
    if refresh_fn is None:
        refresh_fn = maybe_refresh_index

    def _writer(batch: DataFrame, batch_id: int) -> None:
        from wikid_spark.streaming.ingest import ConcurrentWriterError

        writer(batch, batch_id)
        if batch_id % max(every, 1) == 0:
            try:
                rep = refresh_fn(spark, sf_dir, root, **kw)
            except ConcurrentWriterError as ex:
                # Another holder is mid-refresh on this root. The
                # trigger will converge on the same content-keyed
                # version, so contention is a SKIP, not a stream
                # failure — propagating would fail the micro-batch and
                # crash-loop the ingest until the other build finishes
                # (round-16 review).
                rep = {
                    "refreshed": False,
                    "trigger": "contended",
                    "holder": str(ex),
                }
            if on_report is not None:
                on_report(batch_id, rep)

    return _writer


@query(
    "sim_ivfpq8_serve_persisted",
    oracle=_ivfpq_residual_oracle(4, PQ8),
    tags=(
        "similarity", "pq", "ivf", "ann", "derived-k", "kmeans",
        "residual", "multiprobe", "pq8", "persisted",
    ),
)
def sim_ivfpq8_serve_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production serving SHAPE of the all-dials-composed query
    (`sim_ivfpq8_residual_np4_topk` — identical results, identical
    oracle): the residual IVFPQ8 index is built ONCE and persisted
    cell-partitioned (`persist_ann_index`), and this serve
    partition-prunes the index scan to the ~nprobe·|queries| probed
    cells (plan-tested PartitionFilters). This closes the gap the
    round-10 scale audit named: the in-plan family's probe budget
    bounds compute; the persisted form makes it bound IO — at 100 TB
    the serve reads ~nprobe·2·sqrt(n) rows of 32-byte index instead of
    scanning the full index column."""
    index_dir = _ensure_persisted_index(spark, sf_dir, PQ8)
    return serve_persisted_topk(spark, sf_dir, index_dir, nprobe=4, spec=PQ8)


@query(
    "sim_ann_auto_topk",
    # Scale-aware oracle (see _scale_gated_oracle): below the width
    # threshold the raw-vector trained np2 branch binds; at or above
    # it the residual IVFPQ8 np4 branch does — each the exact text of
    # the registered fixed-policy twin.
    oracle=_scale_gated_oracle(
        _lloyd_derived_oracle(TRAINED_DERIVED_ROUNDS, nprobe=2),
        _ivfpq_residual_oracle(4, PQ8),
    ),
    tags=("similarity", "ann", "ivf", "pq", "kmeans", "auto-width", "auto"),
)
def sim_ann_auto_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production serving entry at the BUDGET tier — see
    `ann_auto_topk` for the tier contract. Every dial derives from the
    parquet-footer rowcount the way `derived_k` / `pq_spec_for` derive
    their own; a 100 TB operator calls one entry and the
    serving-budget matrix (SCALE.md round-11) picks the cell. Both
    branches are individually certified (their fixed-policy twins are
    registered queries); this entry pins the DERIVATION."""
    return ann_auto_topk(spark, sf_dir, tier="budget")


def balanced_nprobe(n: int) -> int:
    """Footer-derived probe widening for the BALANCED tier: nprobe =
    max(4, ceil(n^(1/4))), computed as ceil(sqrt(sqrt(n))) — two
    correctly-rounded IEEE ops, so the double is bit-identical in
    DuckDB's CEIL(SQRT(SQRT(n))) (the same cross-engine argument
    `derived_k` makes; POW(n, 0.25) would NOT be correctly rounded and
    could flip the ceil at 4th-power boundaries). With K = ceil(sqrt(n))
    cells of ~2·sqrt(n) rows, probing n^(1/4) cells scans ~2·n^(3/4)
    rows — still sub-linear — while the probed cell FRACTION falls
    only as n^(-1/4) instead of the budget tier's n^(-1/2), so recall
    decays a decade slower (SCALE.md round-12 tier matrix)."""
    import math

    return max(4, int(math.ceil(math.sqrt(math.sqrt(max(n, 0))))))


# The same derivation as a DuckDB expression, interpolated into the
# probe-rank cut of both branch oracles so the twin picks the identical
# depth at ANY corpus scale.
_BALANCED_NPROBE_SQL = (
    "GREATEST(4, CAST(CEIL(SQRT(SQRT(CAST("
    "(SELECT COUNT(*) FROM embeddings) AS DOUBLE)))) AS BIGINT))"
)


def ann_auto_topk(
    spark: SparkSession, sf_dir: str, tier: str = "budget"
) -> DataFrame:
    """SLA-driven auto ANN serving: (code width, cell count, probe
    depth, serving shape) all derived from the corpus rowcount plus a
    target RECALL TIER — the composition of the three dials the
    round-8/9/10 measurements priced (SCALE.md serving-budget matrix).

    * ``budget`` — sub-linear candidate rows first, recall second:
      below PQ_WIDTH_THRESHOLD rows the trained derived-K index serves
      RAW vectors at nprobe=2 (compression buys nothing at a few MB of
      corpus; `sim_ivf_trained_nprobe2_topk`'s exact plan); at scale
      the all-dials composition — residual IVFADC cells, 16-byte
      residual codes, nprobe=4 (`sim_ivfpq8_residual_np4_topk`) —
      probe rows ~nprobe·2·sqrt(n) at 32 B/row.
    * ``balanced`` (round 12) — the cell between budget's
      0.20-recall-sublinear and high's 0.91-recall-linear-rows: the
      same shapes as budget, but the probe depth itself derives from
      the footer rowcount (`balanced_nprobe`: nprobe = max(4,
      ceil(n^(1/4)))). Probed rows ~2·n^(3/4) stay sub-linear while
      the probed cell fraction falls as n^(-1/4) instead of n^(-1/2),
      so recall decays a decade slower than budget (SCALE.md round-12
      tier matrix prices all three).
    * ``high`` — recall first, IO bounded by code width: below the
      threshold exact brute force (recall 1.0; n·|queries| cosines is
      trivial there); at scale the trained 16-byte flat ADC scan
      (`sim_pq8_trained_rerank_topk`) — candidate rows are linear by
      contract but 16 B each, and recall holds 0.99→0.91 across
      sf0.1→10 where every sub-linear-rows cell decays (round-10
      matrix).

    Every tier's branches are registered queries; the auto entries
    (`sim_ann_auto_topk`, `sim_ann_auto_balanced_topk`,
    `sim_ann_auto_high_topk`) pin the derivations with scale-gated
    oracles."""
    n = corpus_rows(sf_dir, "embeddings")
    if tier == "budget":
        if n < PQ_WIDTH_THRESHOLD:
            return _trained_probe_topk(*_trained_index(spark, sf_dir), (2,))[2]
        return _ivfpq_residual_plan(spark, sf_dir, nprobes=(4,), spec=PQ8)[4]
    if tier == "balanced":
        np_ = balanced_nprobe(n)
        if n < PQ_WIDTH_THRESHOLD:
            return _trained_probe_topk(
                *_trained_index(spark, sf_dir), (np_,)
            )[np_]
        return _ivfpq_residual_plan(
            spark, sf_dir, nprobes=(np_,), spec=PQ8
        )[np_]
    if tier == "high":
        if n < PQ_WIDTH_THRESHOLD:
            return sim_ann_brute_topk(spark, sf_dir)
        return _pq_rerank_plan(
            spark, sf_dir, train_rounds=PQ_TRAIN_ROUNDS, depth=50, spec=PQ8
        )
    raise ValueError(
        f"unknown recall tier {tier!r}: use 'budget', 'balanced' or 'high'"
    )


@query(
    "sim_ann_auto_high_topk",
    oracle=_scale_gated_oracle(
        # small branch: exact brute force (sim_ann_brute_topk's text)
        """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2000),
    sims AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             ROUND(list_cosine_similarity(e.embedding::DOUBLE[], q.qe::DOUBLE[]), 4) AS sim
      FROM embeddings e, q
      WHERE e.vec_id <> q.query_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
      FROM sims
    )
    SELECT query_id, neighbor_id, sim, rn
    FROM ranked WHERE rn <= 3
    ORDER BY query_id, rn
    """,
        # large branch: trained 16-byte flat ADC scan
        "WITH "
        + _pq_cte(train_rounds=PQ_TRAIN_ROUNDS, spec=PQ8)
        + ", "
        + _pq_adc_sql(spec=PQ8)
        + _pq_rerank_sql(50),
    ),
    tags=("similarity", "ann", "pq", "kmeans", "auto-width", "auto"),
)
def sim_ann_auto_high_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HIGH recall tier of `ann_auto_topk`: exact brute force below
    the width threshold, the scale-stable trained 16-byte flat ADC
    scan at or above it (recall 0.99→0.91 across sf0.1→10 at 16
    bytes/row of candidate IO — the round-10 matrix's near-exact
    row). The tier trades linear candidate ROWS for bounded BYTES and
    stable recall; `sim_ann_auto_topk` is the sub-linear-rows tier."""
    return ann_auto_topk(spark, sf_dir, tier="high")


@query(
    "sim_ann_auto_balanced_topk",
    # Scale-gated like the other tiers; additionally the probe-rank
    # cut inside EACH branch derives nprobe from COUNT(*) with the
    # bit-stable CEIL(SQRT(SQRT(n))) — the oracle picks the same depth
    # the Spark side's balanced_nprobe computes from the footer, at
    # any corpus scale.
    oracle=_scale_gated_oracle(
        _lloyd_derived_oracle(
            TRAINED_DERIVED_ROUNDS, nprobe=_BALANCED_NPROBE_SQL
        ),
        _ivfpq_residual_oracle(_BALANCED_NPROBE_SQL, PQ8),
    ),
    tags=("similarity", "ann", "ivf", "pq", "kmeans", "auto-width", "auto"),
)
def sim_ann_auto_balanced_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The BALANCED tier of `ann_auto_topk` (round 12): budget's
    serving shapes with a footer-DERIVED probe depth — nprobe =
    max(4, ceil(n^(1/4))) — so the probed cell fraction falls as
    n^(-1/4) instead of n^(-1/2). The SLA menu's middle cell: probed
    rows ~2·n^(3/4) (sub-linear), recall between budget's fixed-depth
    decay and high's bounded-bytes 0.91."""
    return ann_auto_topk(spark, sf_dir, tier="balanced")


# ---------------------------------------------------------------------------
# MMR diversification (round 14): the retrieval post-processor a RAG /
# training-data pipeline runs after top-k — greedy maximal marginal
# relevance (Carbonell & Goldstein 1998): repeatedly pick the
# candidate maximizing λ·sim(q,c) − (1−λ)·max_{s∈S} sim(c,s).
# ---------------------------------------------------------------------------

_MMR_LAMBDA = 0.7
# The redundancy weight is the LITERAL 0.3, not 1.0 - _MMR_LAMBDA:
# that expression is 0x1.3333333333334p-2, one ulp above the literal
# 0x1.3333333333333p-2 the oracle's CAST(0.3 AS DOUBLE) denotes, and on
# a real-arithmetic tie the 1-ulp-heavier penalty flips the argmax and
# cascades through every later greedy step (ADVICE r14).
_MMR_MU = 0.3
_MMR_POOL = 20
_MMR_K = 5


def _round_half_up(x: float, nd: int) -> float:
    """Driver-side twin of Spark's F.round on DoubleType: shortest-repr
    decimalization (Scala BigDecimal.decimal semantics) then HALF_UP —
    NOT Python round(), whose half-to-even breaks ties the other way
    from the DuckDB oracle's half-away ROUND (ADVICE r14)."""
    import decimal

    q = decimal.Decimal(1).scaleb(-nd)
    return float(
        decimal.Decimal(repr(x)).quantize(q, rounding=decimal.ROUND_HALF_UP)
    )


def _mmr_oracle(k: int = _MMR_K, pool: int = _MMR_POOL) -> str:
    """Unrolled k-step greedy as MATERIALIZED CTEs (the lloyd-trace
    oracle discipline: each step is referenced by every later step —
    inlining would double the tree per step). All similarities are
    ROUND(...,4) before any arithmetic, the λ-blend is pure
    correctly-rounded double ops, so each step's argmax is
    bit-identical to the Spark/driver greedy."""
    # Emit the constants from the SAME Python doubles the driver greedy
    # multiplies with — repr is the shortest round-trip decimal, so the
    # oracle's CAST re-parses to the bit-identical double.
    L = f"CAST({_MMR_LAMBDA!r} AS DOUBLE)"
    M = f"CAST({_MMR_MU!r} AS DOUBLE)"
    ctes = [
        "qv AS MATERIALIZED (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0)",
        f"""cands AS MATERIALIZED (
      SELECT doc, simq, embedding FROM (
        SELECT e.vec_id AS doc,
               ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                            qv.qe::DOUBLE[]), 4) AS simq,
               e.embedding
        FROM embeddings e, qv WHERE e.vec_id <> 0
        ORDER BY simq DESC, doc LIMIT {pool})
    )""",
        """pairs AS MATERIALIZED (
      SELECT a.doc AS a, b.doc AS b,
             ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 4) AS s
      FROM cands a, cands b WHERE a.doc <> b.doc
    )""",
    ]
    for i in range(1, k + 1):
        prev = " UNION ALL ".join(f"SELECT doc FROM s{j}" for j in range(1, i))
        not_in = f"WHERE c.doc NOT IN ({prev})" if prev else ""
        max_term = (
            f"COALESCE((SELECT MAX(p.s) FROM pairs p WHERE p.a = c.doc "
            f"AND p.b IN ({prev})), CAST(0.0 AS DOUBLE))"
            if prev
            else "CAST(0.0 AS DOUBLE)"
        )
        ctes.append(
            f"""s{i} AS MATERIALIZED (
      SELECT c.doc, {L} * c.simq - {M} * {max_term} AS score
      FROM cands c {not_in}
      ORDER BY score DESC, c.doc LIMIT 1
    )"""
        )
    selects = " UNION ALL ".join(
        f"SELECT {i} AS pos, doc, ROUND(score, 6) AS score FROM s{i}"
        for i in range(1, k + 1)
    )
    return f"WITH {', '.join(ctes)}\nSELECT pos, doc, score FROM ({selects}) ORDER BY pos"


@query(
    "sim_mmr_diversified_topk",
    oracle=_mmr_oracle(),
    tags=("similarity", "mmr", "retrieval", "iterative"),
)
def sim_mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR re-ranking of the top-20 cosine candidates
    for the fixed query vector (doc 0's embedding): 5 picks at
    λ = 0.7. Relevance and pairwise redundancy similarities
    are both computed DISTRIBUTED and rounded to 4 decimals there; the
    greedy loop itself runs driver-side over the collected
    20-row pool (20² pairwise rows) — the sanctioned
    k-bounded iterative pattern (Lloyd/BPE discipline): the collect is
    pool-bounded and corpus-INDEPENDENT, the corpus-scale work (the
    candidate scan) stays a TakeOrderedAndProject top-k. Tie-breaks on
    doc id everywhere; the λ-blend is two correctly-rounded double
    multiplies and a subtraction on 4-rounded inputs with BOTH weights
    shared as shortest-repr literals (λ=0.7, μ=0.3 — not 1-λ, which is
    1 ulp heavier) and the final round half-up (``_round_half_up``,
    the F.round discipline), so every pick is bit-identical in the
    DuckDB unrolled-CTE twin even on real-arithmetic ties."""
    emb = table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    # one anchor: the pool is a global top-k (TakeOrderedAndProject)
    cand = (
        _scored(emb.crossJoin(F.broadcast(qv)), "doc", keep=("embedding",))
        .orderBy(F.desc("sim"), "doc")
        .limit(_MMR_POOL)
    )
    return _mmr_greedy_over_pool(spark, cand).select("pos", "doc", "score")


def _mmr_greedy_sql(
    k: int, cands: str = "cands", pairs: str = "pairs"
) -> tuple[list[str], str]:
    """The per-anchor greedy unroll shared by every multi-anchor MMR
    oracle: k chained CTEs TOTAL regardless of anchor count (the
    per-anchor argmax is a ROW_NUMBER over the anchor's candidates and
    the already-selected set is reached by CORRELATED subqueries on
    query_id). ``cands`` must expose (query_id, doc, simq) and
    ``pairs`` (query_id, a, b, s). Returns (ctes, final_select)."""
    L = f"CAST({_MMR_LAMBDA!r} AS DOUBLE)"
    M = f"CAST({_MMR_MU!r} AS DOUBLE)"
    ctes = []
    for i in range(1, k + 1):
        prev = " UNION ALL ".join(
            f"SELECT query_id, doc FROM s{j}" for j in range(1, i)
        )
        not_in = (
            f"WHERE c.doc NOT IN (SELECT p.doc FROM ({prev}) p "
            f"WHERE p.query_id = c.query_id)"
            if prev
            else ""
        )
        max_term = (
            f"COALESCE((SELECT MAX(p.s) FROM {pairs} p WHERE "
            f"p.query_id = c.query_id AND p.a = c.doc AND p.b IN "
            f"(SELECT q.doc FROM ({prev}) q WHERE q.query_id = c.query_id)), "
            f"CAST(0.0 AS DOUBLE))"
            if prev
            else "CAST(0.0 AS DOUBLE)"
        )
        ctes.append(
            f"""s{i} AS MATERIALIZED (
      SELECT query_id, doc, score FROM (
        SELECT query_id, doc, score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY score DESC, doc) AS rn
        FROM (SELECT c.query_id, c.doc, {L} * c.simq - {M} * {max_term} AS score
              FROM {cands} c {not_in}))
      WHERE rn = 1
    )"""
        )
    selects = " UNION ALL ".join(
        f"SELECT query_id, {i} AS pos, doc, ROUND(score, 6) AS score FROM s{i}"
        for i in range(1, k + 1)
    )
    final = (
        f"SELECT query_id, pos, doc, score FROM ({selects}) "
        f"ORDER BY query_id, pos"
    )
    return ctes, final


def _mmr_multi_oracle(k: int = _MMR_K, pool: int = _MMR_POOL) -> str:
    """Per-anchor greedy MMR over per-anchor BRUTE top-``pool``
    candidate sets. Same bit-exactness discipline as `_mmr_oracle`:
    4-rounded sims, shortest-repr λ/μ literals, half-away final
    round; greedy unroll shared via `_mmr_greedy_sql`."""
    ctes = [
        f"""anchors AS MATERIALIZED (
      SELECT vec_id AS query_id, embedding AS qe
      FROM embeddings WHERE {_QUERY_SAMPLE_SQL}
    )""",
        f"""cands AS MATERIALIZED (
      SELECT query_id, doc, simq, embedding FROM (
        SELECT a.query_id, e.vec_id AS doc,
               ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                            a.qe::DOUBLE[]), 4) AS simq,
               e.embedding,
               ROW_NUMBER() OVER (
                 PARTITION BY a.query_id
                 ORDER BY ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                                       a.qe::DOUBLE[]), 4)
                            DESC, e.vec_id) AS rn
        FROM embeddings e, anchors a WHERE e.vec_id <> a.query_id)
      WHERE rn <= {pool}
    )""",
        """pairs AS MATERIALIZED (
      SELECT a.query_id, a.doc AS a, b.doc AS b,
             ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 4) AS s
      FROM cands a JOIN cands b
        ON a.query_id = b.query_id AND a.doc <> b.doc
    )""",
    ]
    greedy, final = _mmr_greedy_sql(k)
    return f"WITH {', '.join(ctes + greedy)}\n{final}"


@query(
    "sim_mmr_multi",
    oracle=_mmr_multi_oracle(),
    tags=("similarity", "mmr", "retrieval", "iterative", "multi-anchor"),
)
def sim_mmr_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sim_mmr_diversified_topk` generalized to the ANN family's
    sampled anchor set (VERDICT r14 #1): per anchor, greedy MMR over
    that anchor's top-20 cosine pool, 5 picks at λ = 0.7 / μ = 0.3 —
    the batched diversification pass a RAG / training-data pipeline
    runs over its whole query log, not one query.

    Scale shape: the corpus-scale work is ONE pass — candidates rank
    per anchor via a window over the broadcast-anchor cross score (the
    certified sim_ann_brute shape), the pairwise-sim table is a
    self-join of the pooled survivors ON query_id (per-anchor 20x19
    rows, never cross-anchor), and the greedy loop runs driver-side
    over an anchors x 20 pool plus anchors x 380 pair rows — bounded
    by the ANCHOR BUDGET, corpus-independent (the sanctioned
    Lloyd/BPE k-bounded iterative pattern). Every similarity is
    rounded to 4 decimals distributed; driver arithmetic uses the same
    shortest-repr λ/μ doubles and half-up final round the oracle CASTs
    and ROUNDs to, so each per-anchor pick chain is bit-identical."""
    emb = table(spark, sf_dir, "embeddings")
    anchors = _sample_filter(emb).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    scored = _scored(
        emb.crossJoin(F.broadcast(anchors)), "doc", keep=("embedding",)
    )
    return _mmr_greedy_over_pool(spark, _mmr_pool(scored))


def _mmr_pool(scored: DataFrame) -> DataFrame:
    """Per-anchor top-_MMR_POOL cut of a `_scored` (query_id, doc,
    embedding, sim) frame — the candidate pool the greedy consumes."""
    return _top_n(scored, _MMR_POOL, "doc", ordered=False).drop("rn")


def _mmr_ann_pool(index: DataFrame, probes: DataFrame) -> DataFrame:
    """The ANN-candidate MMR pool from cell-keyed ``index`` rows
    (vec_id, embedding, cent_id) and the anchors' ``probes``
    (query_id, qe, pcell): one broadcast probe join, exact cosine,
    per-anchor top-_MMR_POOL. Shared by the in-plan twin (``a2`` and
    the memoized centroids) and the persisted twin (the cell-pruned
    ``mindex`` scan and the handle's centroids), so the two pools are
    one plan over different index rows."""
    scored = _scored(
        index.join(F.broadcast(probes), F.col("cent_id") == F.col("pcell")),
        "doc",
        keep=("embedding",),
    ).distinct()  # top-2 index x 2 probes: same pair via two cells
    return _mmr_pool(scored)


def _mmr_greedy_over_pool(spark: SparkSession, cand: DataFrame) -> DataFrame:
    """The MMR tail shared by every MMR query (the single-anchor one
    passes its pool under one query_id): ``cand`` carries (query_id,
    doc, embedding, sim) with at most _MMR_POOL rows per anchor.
    Pairwise redundancy sims compute DISTRIBUTED over the checkpointed
    pool; the greedy loop runs driver-side over anchor-budget-bounded
    collects (anchors x 20 and anchors x 380 rows — the Lloyd/BPE
    k-bounded pattern), with the shortest-repr λ/μ doubles and half-up
    final round the oracles CAST and ROUND to."""
    pool = cand.localCheckpoint(eager=True)  # anchors x 20; reused 2x
    a = pool.select(
        F.col("query_id").alias("qa"),
        F.col("doc").alias("a"),
        F.col("embedding").alias("ea"),
    )
    b = pool.select(
        F.col("query_id").alias("qb"),
        F.col("doc").alias("b"),
        F.col("embedding").alias("eb"),
    )
    pair = a.join(
        F.broadcast(b),
        (F.col("qa") == F.col("qb")) & (F.col("a") != F.col("b")),
    ).select(
        F.col("qa").alias("query_id"),
        "a",
        "b",
        F.round(cosine_similarity(F.col("ea"), F.col("eb")), 4).alias("s"),
    )
    # anchor-budget-bounded collects (anchors x 20 and anchors x 380)
    simq: dict[int, dict[int, float]] = {}
    for r in pool.select("query_id", "doc", "sim").collect():  # k-bounded collect (anchors x 20)
        simq.setdefault(r["query_id"], {})[r["doc"]] = r["sim"]
    sims: dict[tuple[int, int, int], float] = {
        (r["query_id"], r["a"], r["b"]): r["s"] for r in pair.collect()  # k-bounded collect (anchors x 380)
    }
    _unpersist_checkpoint(pool)

    lam, mu = _MMR_LAMBDA, _MMR_MU
    out: list[tuple[int, int, int, float]] = []
    for qid in sorted(simq):
        cands_q = simq[qid]
        selected: list[int] = []
        for pos in range(1, _MMR_K + 1):
            best = None
            for doc in sorted(cands_q):
                if doc in selected:
                    continue
                mx = max(
                    (sims[(qid, doc, s)] for s in selected), default=0.0
                )
                score = lam * cands_q[doc] - mu * mx
                if best is None or score > best[1]:
                    best = (doc, score)
            if best is None:
                break
            out.append((qid, pos, best[0], _round_half_up(best[1], 6)))
            selected.append(best[0])
    return spark.createDataFrame(
        out, "query_id bigint, pos int, doc bigint, score double"
    ).orderBy("query_id", "pos")


def _mmr_ann_multi_oracle(k: int = _MMR_K, pool: int = _MMR_POOL) -> str:
    """`_mmr_multi_oracle` with the per-anchor candidate pool drawn
    from the TRAINED derived-K index (top-2 cells probed, nprobe=2)
    instead of a brute corpus pass — the oracle twin of the full
    production retrieval pipeline (ANN candidates → MMR diversify)."""
    probe_cands = f"""mcands AS MATERIALIZED (
      SELECT query_id, doc, simq, embedding FROM (
        SELECT query_id, doc, simq, embedding,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY simq DESC, doc) AS prn
        FROM (
          SELECT DISTINCT q.query_id, a.vec_id AS doc,
                 ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                              q.qe::DOUBLE[]), 4) AS simq,
                 a.embedding
          FROM (SELECT vec_id AS query_id, embedding AS qe,
                       cent_id AS pcell
                FROM frk WHERE rn <= 2 AND {_QUERY_SAMPLE_SQL}) q
          JOIN index a ON a.cent_id = q.pcell
          WHERE a.vec_id <> q.query_id))
      WHERE prn <= {pool}
    )""", """mpairs AS MATERIALIZED (
      SELECT a.query_id, a.doc AS a, b.doc AS b,
             ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 4) AS s
      FROM mcands a JOIN mcands b
        ON a.query_id = b.query_id AND a.doc <> b.doc
    )"""
    greedy, final = _mmr_greedy_sql(k, cands="mcands", pairs="mpairs")
    return (
        "WITH "
        + _lloyd_trained_fragment(TRAINED_DERIVED_ROUNDS)
        + ",\n"
        + ",\n".join(list(probe_cands) + greedy)
        + "\n"
        + final
    )


@query(
    "sim_mmr_ann_multi",
    oracle=_mmr_ann_multi_oracle(),
    tags=(
        "similarity", "mmr", "retrieval", "iterative", "multi-anchor",
        "ann", "ivf", "kmeans",
    ),
)
def sim_mmr_ann_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full production retrieval pipeline certified end-to-end:
    per sampled anchor, candidates come from the TRAINED derived-K IVF
    index (top-2 cells probed — the certified sim_ivf_trained_nprobe2
    shape) instead of a brute corpus pass, then greedy MMR diversifies
    the per-anchor top-20 pool (5 picks, λ = 0.7). This is what a RAG
    serving path actually runs: ANN recall stage → diversity re-rank —
    composed here from two individually-certified plan builders and
    certified AS a composition against one oracle.

    Scale: candidate generation reads ~nprobe·2·sqrt(n) indexed rows
    per anchor (sub-linear; the brute variant's corpus pass is the
    recall ceiling it trades away); everything after the pool cut is
    anchor-budget-bounded exactly as `sim_mmr_multi` — pairwise sims
    distributed over anchors x 20 rows, greedy driver-side."""
    qemb, cents, a2, k = _trained_index(spark, sf_dir)
    probes = _probe_ranks(_sample_filter(qemb), cents, top_m=2, k=k).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("cent_id").alias("pcell"),
    )
    return _mmr_greedy_over_pool(spark, _mmr_ann_pool(a2, probes))


_MINDEX_SCHEMA = (
    "vec_id bigint, embedding array<float>, label int, "
    "cent_rank int, cent_id bigint"
)


def _mindex(spark: SparkSession, index_dir: str) -> DataFrame:
    """The persisted IVF-Flat component (top-2 cell rows carrying the
    float vectors and the label), read with its fixed schema."""
    return spark.read.schema(_MINDEX_SCHEMA).parquet(f"{index_dir}/mindex")


def _cell_pruned(index: DataFrame, probes: DataFrame) -> DataFrame:
    """A cent_id-partitioned persisted index frame (``rindex``,
    ``mindex``) pruned to the cells ``probes`` touched (``pcell``
    column): the touched cell ids collect driver-side (≤ |queries|·
    nprobe values), and below ANN_CELL_PUSHDOWN_MAX_IDS they inline as
    an IN-literal the parquet source turns into PartitionFilters
    (plan-tested); above it a broadcast semi-join takes over. The one
    pruning rule of every persisted serve, so an index layout change
    cannot diverge them."""
    touched = probes.select("pcell").distinct()
    cells = [
        r[0]
        for r in touched.limit(
            ANN_CELL_PUSHDOWN_MAX_IDS + 1
        ).collect()  # k-bounded collect (<= |queries|*nprobe values)
    ]
    if len(cells) <= ANN_CELL_PUSHDOWN_MAX_IDS:
        return index.filter(F.col("cent_id").isin(cells))
    return index.join(
        F.broadcast(touched.withColumnRenamed("pcell", "cent_id")),
        "cent_id",
        "left_semi",
    )


@query(
    "sim_mmr_ann_multi_persisted",
    oracle=_mmr_ann_multi_oracle(),
    tags=(
        "similarity", "mmr", "retrieval", "iterative", "multi-anchor",
        "ann", "ivf", "kmeans", "persisted", "serving",
    ),
)
def sim_mmr_ann_multi_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """`sim_mmr_ann_multi` with the candidate stage served from the
    PERSISTED index's new IVF-Flat component (VERDICT r15 #2): probes
    rank the sampled anchors against the persisted centroid table (the
    session-cached hold-open handle), and candidates come from
    ``mindex/`` — the top-2 cell assignment with the original float
    vectors riding the rows — with the scan partition-pruned to the
    probed cells (IN-literal below ANN_CELL_PUSHDOWN_MAX_IDS, plan-
    tested; broadcast semi-join above it, the serve_persisted_topk
    dial). The persisted cents are the same deterministic Lloyd output
    `_trained_index` memoizes and floats round-trip parquet exactly,
    so the candidate pool — and hence the greedy MMR output — is
    value-identical to the in-plan twin: one oracle text certifies
    both.

    Scale: the in-plan twin pays one corpus pass per serving PROCESS
    (memoized per session); this form pays ~nprobe·2·√n indexed ROWS
    of IO per serve at any corpus size — the lexical counterpart is
    fts_hybrid_rrf_multi_persisted."""
    index_dir = _ensure_persisted_index(spark, sf_dir, PQ8)
    handle = load_ann_index(spark, index_dir, PQ8)
    emb = table(spark, sf_dir, "embeddings")
    sample = _sample_filter(emb).select(
        "vec_id",
        "embedding",
        quantize_embedding(F.col("embedding")).alias("qemb"),
    )
    probes = (
        _probe_ranks(sample, handle.cents, top_m=2, k=handle.k)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("cent_id").alias("pcell"),
        )
        .localCheckpoint(eager=True)  # assign once: cells + join reuse it
    )
    mindex = _cell_pruned(_mindex(spark, index_dir), probes)
    return _mmr_greedy_over_pool(spark, _mmr_ann_pool(mindex, probes))


@query(
    "sim_hard_negatives_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qe, label AS qlabel
      FROM embeddings WHERE {_QUERY_SAMPLE_SQL}
    ),
    sims AS (
      SELECT q.query_id, q.qlabel, e.vec_id AS negative_id,
             e.label AS neg_label,
             ROUND(list_cosine_similarity(e.embedding::DOUBLE[],
                                          q.qe::DOUBLE[]), 4) AS sim
      FROM embeddings e, q
      WHERE e.vec_id <> q.query_id AND e.label <> q.qlabel
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY sim DESC, negative_id) AS rn
      FROM sims
    )
    SELECT query_id, negative_id, qlabel, neg_label, sim, rn
    FROM ranked WHERE rn <= 3
    ORDER BY query_id, rn
    """,
    tags=("similarity", "mining", "contrastive"),
)
def sim_hard_negatives_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: per
    sampled query, the top-3 most-similar corpus vectors whose LABEL
    differs — the nearest wrong-class examples, exactly what a
    triplet/InfoNCE data pipeline mines per anchor. Same certified
    shape as `sim_ann_brute_topk` (broadcast query side, one corpus
    pass, rank on the ROUNDED sim with id tiebreaks) plus the label
    anti-predicate evaluated IN the scan pass — at scale the
    composition with the IVF family applies unchanged (probe cells,
    then the label filter), since the filter is per-row and commutes
    with any candidate generation."""
    emb = table(spark, sf_dir, "embeddings")
    q = _sample_filter(emb).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
    )
    return _top_n(
        _hard_negatives_scored(emb.crossJoin(F.broadcast(q))), 3, "negative_id"
    )


def _hard_negatives_scored(cands: DataFrame) -> DataFrame:
    """The miner's scoring step: `_scored` with the label
    anti-predicate evaluated in the same filter as the self-drop, and
    (query_id, negative_id, qlabel, neg_label, sim) out."""
    return _scored(
        cands,
        "negative_id",
        keep=("qlabel", F.col("label").alias("neg_label")),
        where=F.col("label") != F.col("qlabel"),
    )


def _hard_negatives_from_index(index: DataFrame, probes: DataFrame) -> DataFrame:
    """Top-3 hard negatives from cell-keyed, labelled ``index`` rows
    (vec_id, embedding, label, cent_id) and the anchors' ``probes``
    (query_id, qe, qlabel, pcell) — the one serve of the in-plan twin
    (the label-carrying assignment) and the persisted twin (the
    cell-pruned ``mindex`` scan)."""
    cands = _hard_negatives_scored(
        index.join(F.broadcast(probes), F.col("cent_id") == F.col("pcell"))
    ).distinct()  # top-2 index x multi-probe: same pair can match twice
    return _top_n(cands, 3, "negative_id")


@query(
    "sim_hard_negatives_ann_topk",
    oracle=(
        "WITH "
        + _lloyd_trained_fragment(TRAINED_DERIVED_ROUNDS)
        + ",\n"
        + _hard_neg_ann_tail()
        + """
    SELECT query_id, negative_id, qlabel, neg_label, sim, rn
    FROM hn_top3
    ORDER BY query_id, rn"""
    ),
    tags=("similarity", "mining", "contrastive", "ann", "ivf", "kmeans"),
)
def sim_hard_negatives_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sim_hard_negatives_topk` routed through the trained derived-K
    IVF index instead of the exact corpus pass — certifying the brute
    query's docstring claim that the label anti-predicate composes
    unchanged with the IVF family (VERDICT r14 #2): probe the anchor's
    top-4 trained cells, drop same-label candidates IN the probe scan,
    exact-cosine re-rank the survivors to 3.

    Scale: this is the shape that matters at 10^9 vectors — the brute
    miner reads the corpus once PER BATCH of anchors; this one reads
    ~nprobe·2·sqrt(n) indexed rows per anchor. The label attach is NOT
    a corpus shuffle join: labels ride the index rows (one extra
    map-only assignment pass against the memoized trained centroids —
    at 100 TB the label simply lives in the persisted index, as
    attribute columns do in sim_ivfpq8_serve_persisted's layout). The
    approximation cost is quantified in sim_recall_report's
    hard_neg_ann row against the exact miner."""
    _, cents, _, k = _trained_index(spark, sf_dir)
    emb = table(spark, sf_dir, "embeddings")
    n = corpus_rows(sf_dir, "embeddings")
    embl = emb.select(
        "vec_id",
        "embedding",
        "label",
        quantize_embedding(F.col("embedding")).alias("qemb"),
    )
    a2l = _assign_blas(
        embl,
        cents,
        top_m=2,
        out_cols=["vec_id", "embedding", "label"],
        n_rows=n,
        k=k,
    ).select(
        "vec_id", "embedding", "label", "cent_id"
    )
    probes = _probe_ranks(_sample_filter(embl), cents, top_m=4, k=k).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
        F.col("cent_id").alias("pcell"),
    )
    return _hard_negatives_from_index(a2l, probes)


@query(
    "sim_hard_negatives_persisted",
    oracle=(
        "WITH "
        + _lloyd_trained_fragment(TRAINED_DERIVED_ROUNDS)
        + ",\n"
        + _hard_neg_ann_tail()
        + """
    SELECT query_id, negative_id, qlabel, neg_label, sim, rn
    FROM hn_top3
    ORDER BY query_id, rn"""
    ),
    tags=(
        "similarity", "mining", "contrastive", "ann", "ivf", "kmeans",
        "persisted", "serving",
    ),
)
def sim_hard_negatives_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sim_hard_negatives_ann_topk` served from the PERSISTED index
    (round 16): since L4 the ``label`` attribute column rides the
    ``mindex/`` rows, so the anti-predicate runs IN the partition-
    pruned index scan — zero corpus joins, zero per-serve assignment
    passes over the corpus. Probes rank the sampled anchors against
    the persisted centroid table (top-4 cells, the in-plan twin's
    budget); candidates come from the probed cells' directories only
    (IN-literal under the pushdown cap, broadcast semi-join above);
    exact-cosine re-rank to 3 on the original vectors mindex carries.
    The persisted cents are the same deterministic Lloyd output the
    in-plan twin memoizes, so one oracle text certifies both.

    Scale: a serving process pays ~nprobe·2·√n indexed rows of IO per
    anchor batch at any corpus size; the in-plan twin pays one corpus
    assignment pass per process. This is the last retrieval-family
    member to gain a persisted serving twin (hybrid, MMR, and plain
    top-k landed in rounds 15-16)."""
    index_dir = _ensure_persisted_index(spark, sf_dir, PQ8)
    handle = load_ann_index(spark, index_dir, PQ8)
    emb = table(spark, sf_dir, "embeddings")
    sample = _sample_filter(
        emb.select(
            "vec_id",
            "embedding",
            "label",
            quantize_embedding(F.col("embedding")).alias("qemb"),
        )
    )
    probes = (
        _probe_ranks(sample, handle.cents, top_m=4, k=handle.k)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.col("label").alias("qlabel"),
            F.col("cent_id").alias("pcell"),
        )
        .localCheckpoint(eager=True)  # assign once: cells + join reuse it
    )
    mindex = _cell_pruned(_mindex(spark, index_dir), probes)
    return _hard_negatives_from_index(mindex, probes)
