"""Near-duplicate detection family (north-star dedup, SURVEY.md §2/§7.6).

Four mechanisms, all as declarative DataFrame programs:
  - exact hash dedup        → queries/extensions.py (q25_*)
  - n-gram Jaccard          → inverted-index self-join (exact, the oracle)
  - MinHash + LSH banding   → the scale path for near-dedup
  - SimHash                 → bitwise signature dedup
  - embedding cosine        → near-dup over vectors (brute-force here,
                              LSH-bucketed scale path in similarity.py)

Hash parity: every signature is built from md5() (present in both Spark
and DuckDB with identical output), so even the MinHash/SimHash pipelines
are fully oracle-checked — not just rows-only.

Scale notes: the inverted-index Jaccard join is exact but quadratic in
hot shingles; at 100 TB you cap document frequency or go straight to
MinHash-LSH, whose cost is rows × permutations with one groupBy and one
band-equality self-join (AQE handles banding skew).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from wikid_spark.catalog import corpus_rows, spread_for_compute, table
from wikid_spark.queries.similarity import ivf_derived_cte as _sem_derived_cte
from wikid_spark.registry import query

N_PERM = 16  # minhash permutations
BAND_R = 2  # rows per band → 8 bands; P(cand) = 1-(1-j^r)^b
NEARDUP_BLOCKS = 8  # block-pair grid for exact embedding near-dup
# Stop-shingle cap: a shingle occurring in more than this many documents
# contributes O(df²) rows to the inverted-index self-join — the quadratic
# hot-key blow-up at scale. Such shingles are boilerplate (licence
# headers, navigation chrome) and are dropped from the universe before
# the join, bounding any one shingle's pair contribution to DF_CAP².
# Far above every df in the test corpora (max 25 at sf0.1), so the
# oracle — which computes the uncapped exact Jaccard — still matches.
JACCARD_DF_CAP = 1000

# (doc_id, per-doc shingle count) pack into one long for the Jaccard
# posting lists — see ngram_jaccard_pairs. 2^21 bounds per-doc distinct
# shingles; doc_id headroom stays 2^42.
_PACK = 1 << 21
# Max LSH candidate-pair rows to pin as a broadcast in the verify
# funnel (the dup-rate dial, same reasoning as pipeline's
# DROP_BROADCAST_MAX_ROWS): the candidate set scales with corpus dup
# rate — tiny on a curated corpus, corpus-scale on a high-duplicate
# crawl (measured: the closed-vocab sf10 corpus OOM'd an 8 GiB JVM
# under the pinned broadcast). Below the cap the hint pins the
# map-side probe; above it the hint is omitted and the verify joins
# shuffle — slower, but they complete and spill.
PAIR_BROADCAST_MAX_ROWS = 5_000_000


def _hint_if_small(df: DataFrame, n_rows: int):
    """F.broadcast(df) when the measured size is under the cap, else
    the bare plan (AQE picks the strategy from runtime sizes)."""
    return F.broadcast(df) if n_rows <= PAIR_BROADCAST_MAX_ROWS else df

# DuckDB twin of _shingles below, including the short-document fallback:
# docs with fewer than 3 words contribute one whole-text shingle (the
# Spark side's array_join(split(text,' '), ' ') round-trips to text).
_SHINGLES_SQL = """CASE WHEN len(string_split(text, ' ')) < 3
             THEN [text]
             ELSE list_distinct([string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]
                                 || ' ' || string_split(text,' ')[i+2]
                                 FOR i IN range(1, len(string_split(text,' ')) - 1)])
             END"""

# Numeric minhash: ONE md5 per shingle, reduced to a 30-bit integer,
# then N_PERM universal-hash permutations h_i = (a_i*h + b_i) mod P —
# all long arithmetic. Two reasons this shape matters at scale:
#   1. min(<string>) can't use HashAggregate (no fixed-width buffer) —
#      Spark falls back to Sort+SortAggregate, which measured ~50x
#      slower at sf0.1 (114s vs ~2s) than numeric min.
#   2. One md5 per shingle instead of one per (shingle × permutation).
# 30-bit reduction keeps a_i*h + b_i < 2^36 — safely inside BIGINT for
# DuckDB (which errors on overflow, unlike Spark's wrapping longs).
H_MOD = 1 << 30
PERM_P = 1_000_000_007


def _perm_a(i: int) -> int:
    return 2 * i + 1


def _perm_b(i: int) -> int:
    return 12345 * i + 67890


def _shingles(words, n: int = 3):
    """Distinct n-word shingles of a pre-split words column.

    ``words`` must be a BOUND column (a projected alias), not the
    split() expression itself: expressions referenced inside
    higher-order-function lambdas are not common-subexpression-
    eliminated, so an inline split() re-tokenizes the document for
    every element access (~13x slower, measured at sf0.1)."""
    k = F.size(words) - (n - 1)
    return F.array_distinct(
        F.when(
            k >= 1,
            F.transform(
                F.sequence(F.lit(0), k - 1),
                lambda i: F.concat_ws(
                    " ", *[F.element_at(words, i + j + 1) for j in range(n)]
                ),
            ),
        ).otherwise(F.array(F.array_join(words, " ")))
    )


def shingles_from(docs: DataFrame) -> DataFrame:
    """(doc_id, sh) for an arbitrary (doc_id, text) DataFrame — the
    DataFrame-first variant so streaming micro-batches and persisted-
    index builders share the exact shingle semantics of the registered
    queries.

    The input is spread across cores first (no-op when the scan
    already parallelizes — `catalog.spread_for_compute`): everything
    downstream of the explode is CPU-dense (per-shingle md5 + the
    16-permutation min fold), and all consumers aggregate with
    order-insensitive min/count, so the round-robin exchange cannot
    perturb results."""
    docs = spread_for_compute(docs)
    return docs.select(
        "doc_id", F.split(F.col("text"), " ").alias("words")
    ).select("doc_id", F.explode(_shingles(F.col("words"))).alias("sh"))


def shingle_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return shingles_from(table(spark, sf_dir, "documents"))


@query(
    "nd_ngram_jaccard",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(len(list_intersect(a.sh, b.sh))::DOUBLE
                 / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
    FROM s a, s b
    WHERE a.doc_id < b.doc_id
      AND len(list_intersect(a.sh, b.sh))::DOUBLE
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.2
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "jaccard"),
)
def nd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (threshold 0.2) via an
    inverted-index self-join: explode shingles, equi-join on shingle,
    count co-occurrences — never materializes the n² pair space the
    oracle's cross join does. |A∩B| from the join; |A∪B| = |A|+|B|-∩.

    Hot shingles (document frequency > JACCARD_DF_CAP) are removed from
    CANDIDATE GENERATION by the posting-list cap: each shingle's
    postings are truncated at cap+1 rows by a streaming row_number
    BEFORE they are collected (bounding every aggregation buffer), and
    the size(ds) BETWEEN 2 AND cap filter then drops the over-cap
    shingles entirely — so no single shingle can contribute more than
    DF_CAP² pairs and no hot shingle can blow an aggregation buffer.
    |A| and |B| are per-doc counts computed over the UNCAPPED shingle
    chain (they ride a doc_id window packed into the posting key), so
    reported Jaccard values keep exact denominators even when the cap
    fires; what the cap can cost is (a) intersections through hot
    shingles (values become a lower bound) and (b) pairs that share
    ONLY hot shingles (boilerplate-only overlap — the pairs a dedup
    pass wants to ignore anyway). The cap never bites on the test
    corpora (max df 25 at sf0.1 vs cap 1000), so the uncapped oracle
    stays exact.

    The join key is xxhash64(shingle), not the shingle string: ~20%
    faster end-to-end (smaller shuffle, long comparisons), exact up to
    64-bit collisions (expected collisions ≈ n²/2⁶⁵ — immaterial below
    ~10¹² distinct shingles; the string oracle would catch one)."""
    return ngram_jaccard_pairs(
        table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.2,
    df_cap: int | None = None,
) -> DataFrame:
    """The inverted-index Jaccard join over an arbitrary (doc_id, text)
    DataFrame — the core of ``nd_ngram_jaccard``, parameterized so the
    hot-shingle cap's firing semantics are directly testable
    (tests/test_dedup_caps.py builds a corpus whose boilerplate shingle
    exceeds the cap). ``df_cap`` defaults to the module's
    ``JACCARD_DF_CAP``; see nd_ngram_jaccard's docstring for the
    exactness contract when the cap fires."""
    cap = JACCARD_DF_CAP if df_cap is None else df_cap
    # ONE shingle chain for the whole query (round-16, guide §2.2/§2.3):
    # the previous shape ran it four times — a-side and b-side of the
    # aliased self-join, the hot-shingle scan, and the sizes table —
    # because this Spark's AQE never fires ReusedExchange (measured on
    # a minimal self-join: AQE on → 2 scans/0 reuse, AQE off → 1/1).
    # Instead: per-doc shingle counts ride a window over the exploded
    # chain, pack into the doc key, and pair generation groups the
    # postings by shingle — each sorted posting list explodes to its
    # (doc_a < doc_b) pairs, exactly the rows the equi-join produced
    # (posting lists are doc-distinct: `_shingles` is array_distinct),
    # so n_inter and both denominators are identical with zero joins.
    # Measured 5.1 s → 1.8 s at sf0.1; 4 corpus passes + 2 join
    # shuffles → 1 pass + 2 thin shuffles.
    #
    # The df cap applies as size(postings) not in [2, cap] — singleton
    # shingles yield no pairs, > cap are the same hot shingles the
    # anti-join removed — still bounding any shingle's fan-out at cap².
    #
    # NOTE the explode(_shingles(...)) stays INLINE in `shingles_from`'s
    # projection: aliasing the array in its own select lets
    # InferFiltersFromGenerate push `size(arr) > 0` down as a Filter
    # with the whole HOF (and its split()) inlined — re-evaluating the
    # shingle kernel 2-3x per row below the compute spread (measured
    # 10x: 0.5 s → 4.9 s for the bare chain).
    sh = shingles_from(docs).select("doc_id", F.xxhash64("sh").alias("sh"))
    # doc_id and its shingle count pack into one long so posting lists
    # stay array<bigint> (codegen-friendly sort/explode; struct lists
    # measured ~3x slower). _PACK = 2^21 bounds per-doc DISTINCT
    # shingles at ~2M — a >2M-shingle document (~10 MB of unique text)
    # exceeds every catalog/pipeline corpus doc by orders of magnitude.
    # The bound is ENFORCED, not assumed (ADVICE r16): a doc over either
    # packing budget raises instead of silently corrupting pair doc_ids
    # and Jaccard denominators. Per-row long compares — free at scale.
    n_sh = F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    pack_ok = (
        (F.col("n_sh") < F.lit(_PACK))
        & (F.col("doc_id") >= 0)
        & (F.col("doc_id") < F.lit(1 << 42))
    )
    packed = sh.withColumn("n_sh", n_sh).select(
        F.when(pack_ok, F.col("doc_id") * _PACK + F.col("n_sh"))
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit("ngram_jaccard pack overflow: doc_id="),
                    F.col("doc_id").cast("string"),
                    F.lit(" n_sh="),
                    F.col("n_sh").cast("string"),
                    F.lit(" (budget: doc_id < 2^42, distinct shingles < 2^21)"),
                )
            )
        )
        .alias("dn"),
        "sh",
    )
    # Bounded posting-list aggregation (VERDICT r16 #2): collecting the
    # full list and THEN filtering size > cap builds an unbounded
    # single-key buffer for every hot shingle — a boilerplate trigram in
    # a large slice of a 100 TB corpus is millions of postings in ONE
    # ObjectHashAggregate state (guide §5 OOM on exactly the keys the
    # cap exists to drop). Instead a streaming row_number over the SAME
    # sh exchange truncates every posting list at cap+1 rows BEFORE the
    # collect: the window sort spills gracefully, row_number streams,
    # and the aggregation buffer is hard-bounded at cap+1 longs per
    # shingle at ANY document frequency. Results are identical: df<=cap
    # keeps all rows (size==df, kept when >=2); df>cap collects exactly
    # cap+1 rows and the existing size filter drops it — the same
    # shingles the full collect dropped. No second corpus pass (the
    # window rides the exchange the groupBy already needed; dn is
    # unique within a shingle, so the order — hence the plan — is
    # deterministic).
    rn = F.row_number().over(Window.partitionBy("sh").orderBy("dn"))
    grp = (
        packed.withColumn("rn", rn)
        .filter(F.col("rn") <= cap + 1)
        .groupBy("sh")
        .agg(F.collect_list("dn").alias("ds"))
        .filter(F.size("ds").between(2, cap))
        .select(F.array_sort("ds").alias("ds"))
    )
    pair_arr = F.flatten(
        F.transform(
            "ds",
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + 2, F.size("ds")),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )
    inter = (
        grp.select(F.explode(pair_arr).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.col("n_inter") / (
        (F.col("a") % _PACK) + (F.col("b") % _PACK) - F.col("n_inter")
    )
    return (
        inter.filter(jac >= threshold)
        .select(
            F.floor(F.col("a") / _PACK).cast("long").alias("doc_a"),
            F.floor(F.col("b") / _PACK).cast("long").alias("doc_b"),
            F.round(jac, 4).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


_SHINGLE_HASH_CTE = """
    h AS (
      SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 15))::BIGINT % 1073741824 AS h
      FROM s
    )
"""


def _shingle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, h): 30-bit integer hash per distinct shingle — the
    first 60 bits of md5 (identical in Spark's conv() and DuckDB's
    '0x'-cast) reduced mod 2^30."""
    sh = shingle_table(spark, sf_dir)
    h60 = F.conv(F.substring(F.md5(F.col("sh").cast("binary")), 1, 15), 16, 10)
    return sh.select("doc_id", (h60.cast("long") % H_MOD).alias("h"))


def signature_row_from(docs: DataFrame) -> DataFrame:
    """One row per doc with columns m0..m{N_PERM-1} from an arbitrary
    (doc_id, text) DataFrame: the whole MinHash signature from a SINGLE
    HashAggregate (16 numeric mins computed in one pass — no
    per-permutation explode, one shuffle of tiny rows)."""
    sh = shingles_from(docs)
    h60 = F.conv(F.substring(F.md5(F.col("sh").cast("binary")), 1, 15), 16, 10)
    hashed = sh.select("doc_id", (h60.cast("long") % H_MOD).alias("h"))
    mins = [
        F.min((F.col("h") * _perm_a(i) + _perm_b(i)) % PERM_P).alias(f"m{i}")
        for i in range(N_PERM)
    ]
    return hashed.groupBy("doc_id").agg(*mins)


def _signature_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = _shingle_hash(spark, sf_dir)
    mins = [
        F.min((F.col("h") * _perm_a(i) + _perm_b(i)) % PERM_P).alias(f"m{i}")
        for i in range(N_PERM)
    ]
    return hashed.groupBy("doc_id").agg(*mins)


@query(
    "nd_minhash_signatures",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh
      FROM documents
    ), {_SHINGLE_HASH_CTE}
    SELECT doc_id, i AS perm,
           MIN((h * (2*i + 1) + (12345*i + 67890)) % {PERM_P}) AS minhash
    FROM h, range({N_PERM}) t(i)
    GROUP BY doc_id, i
    ORDER BY doc_id, perm
    """,
    tags=("dedup", "minhash"),
)
def nd_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature table (doc_id, perm, minhash): numeric
    universal-hash permutations over one md5 per shingle (see the
    module constants for why numeric — HashAggregate vs the measured
    SortAggregate fallback on string mins)."""
    sig = _signature_row(spark, sf_dir)
    arr = F.array(*[F.col(f"m{i}") for i in range(N_PERM)])
    return (
        sig.select("doc_id", F.posexplode(arr).alias("perm", "minhash"))
        .orderBy("doc_id", "perm")
    )


def band_table_from(docs: DataFrame) -> DataFrame:
    """(doc_id, band, sig) LSH band signatures for an arbitrary
    (doc_id, text) DataFrame — the builder the persisted-index and
    streaming paths share with the registered batch queries."""
    return _bands_of(signature_row_from(docs))


def _band_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, band, sig): LSH band signatures — band j's sig is md5
    over its BAND_R consecutive signature mins, all derived from the
    one-row-per-doc signature in a single pass."""
    return _bands_of(_signature_row(spark, sf_dir))


def _bands_of(sig: DataFrame) -> DataFrame:
    n_bands = N_PERM // BAND_R
    band_sigs = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"m{j * BAND_R + r}").cast("string")
                        for r in range(BAND_R)
                    ],
                ).cast("binary")
            )
            for j in range(n_bands)
        ]
    )
    return sig.select("doc_id", F.posexplode(band_sigs).alias("band", "sig"))


@query(
    "nd_minhash_lsh_candidates",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh
      FROM documents
    ), {_SHINGLE_HASH_CTE}, mh AS (
      SELECT doc_id, i AS perm,
             MIN((h * (2*i + 1) + (12345*i + 67890)) % {PERM_P}) AS minhash
      FROM h, range({N_PERM}) t(i)
      GROUP BY doc_id, i
    ), bands AS (
      SELECT doc_id, perm // {BAND_R} AS band,
             md5(string_agg(minhash::VARCHAR, '|' ORDER BY perm)) AS sig
      FROM mh GROUP BY doc_id, perm // {BAND_R}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
    WHERE a.doc_id < b.doc_id
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "minhash", "lsh"),
)
def nd_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs: band the signature ({N_PERM} perms,
    {BAND_R} per band), hash each band, self-join on band equality.
    Only same-bucket pairs are generated — the candidate space is the
    LSH guarantee (P = 1-(1-j^r)^b), not the n² pair space.

    Band signatures are derived directly from the one-row-per-doc
    signature (no collect_list, no second shuffle): band j's sig is
    md5 over its BAND_R consecutive mins."""
    return _lsh_candidate_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


def _lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered candidate pair core of nd_minhash_lsh — the funnel
    consumers materialize this, so it must not carry the registered
    query's global orderBy (a checkpoint would pay the sort)."""
    bands = _band_table(spark, sf_dir)
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates()
    )


SIMHASH_BITS = 60  # 15 hex digits of md5 — fits BIGINT with headroom
SIMHASH_CHUNK_BITS = 15  # 60-bit sig → 4 chunks; Hamming ≤ 3 ⇒ some chunk equal
SIMHASH_CHUNK_MASK = (1 << SIMHASH_CHUNK_BITS) - 1
_N_CHUNKS = SIMHASH_BITS // SIMHASH_CHUNK_BITS


def _duck_word_value() -> str:
    """DuckDB expression: first 15 hex digits of md5(word) → 60-bit BIGINT
    (DuckDB has no conv(); decode nibble-by-nibble)."""

    def nib(i: int) -> str:
        c = f"ascii(substr(h,{i},1))"
        return f"(CASE WHEN {c} >= 97 THEN {c} - 87 ELSE {c} - 48 END)::BIGINT"

    return " + ".join(f"{nib(i + 1)} * {16 ** (14 - i)}::BIGINT" for i in range(15))


# Shared DuckDB CTE chain computing sig(doc_id, simhash) — the 60-bit
# SimHash both simhash queries build on.
_SIMHASH_CTES = f"""w AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS word
      FROM documents
    ), wh AS (
      SELECT doc_id, md5(word) AS h FROM w
    ), wv AS (
      SELECT doc_id, {_duck_word_value()} AS v FROM wh
    ), bits AS (
      SELECT doc_id, k,
             SUM(CASE WHEN (v >> k) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM wv, range({SIMHASH_BITS}) t(k)
      GROUP BY doc_id, k
    ), sig AS (
      SELECT doc_id,
             -- CAST: DuckDB types SUM(<integer>) as HUGEINT (int128), which
             -- round-trips through Arrow as decimal/float and breaks the
             -- driver's value hash even when every value is identical.
             CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << k) ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    )"""


def _simhash_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash): 60-bit SimHash per document — word-level md5
    → 60-bit value, each bit votes ±1, sign of the vote is the
    signature bit.

    Plan: words explode → ONE numeric HashAggregate carrying 60
    conditional ±1 sums (no per-bit row explosion, no second shuffle) →
    a projection folds the 60 votes into the signature. Cost is linear
    in distinct words; the only shuffle is the doc_id groupBy.
    """
    d = table(spark, sf_dir, "documents")
    w = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("word")
    ).select("doc_id", F.md5(F.col("word").cast("binary")).alias("h"))
    # conv() decodes the 15 hex digits in one expression (the DuckDB
    # oracle keeps its nibble arithmetic — no conv there); same value,
    # ~15 fewer string ops per word row.
    v = F.conv(F.substring("h", 1, 15), 16, 10).cast("long")
    wv = w.select("doc_id", v.alias("v"))
    votes = wv.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright("v", k).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{k}")
            for k in range(SIMHASH_BITS)
        ]
    )
    sig = sum(
        F.when(F.col(f"s{k}") > 0, F.lit(1 << k).cast("long")).otherwise(F.lit(0).cast("long"))
        for k in range(SIMHASH_BITS)
    )
    return votes.select("doc_id", sig.alias("simhash"))


@query(
    "nd_simhash_signatures",
    oracle=f"""
    WITH {_SIMHASH_CTES}
    SELECT doc_id, simhash FROM sig ORDER BY doc_id
    """,
    tags=("dedup", "simhash"),
)
def nd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signature table — see _simhash_df. Near-dups share
    signatures (equal or low-Hamming); nd_simhash_candidates turns the
    signatures into Hamming-bounded pairs."""
    return _simhash_df(spark, sf_dir).orderBy("doc_id")


@query(
    "nd_simhash_candidates",
    oracle=f"""
    WITH {_SIMHASH_CTES}, ch AS (
      SELECT doc_id, simhash, i AS ck,
             (simhash >> (i * {SIMHASH_CHUNK_BITS})) & {SIMHASH_CHUNK_MASK} AS cv
      FROM sig, range({_N_CHUNKS}) t(i)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM ch a JOIN ch b ON a.ck = b.ck AND a.cv = b.cv AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "simhash", "lsh"),
)
def nd_simhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-≤3 SimHash near-dup pairs via bit-band LSH: the 60-bit
    signature splits into four 15-bit chunks and pairs equi-join on
    (chunk_idx, chunk_value) — by pigeonhole, any pair within Hamming 3
    shares at least one chunk, so the banded join finds EVERY such pair
    while only ever materializing same-chunk candidates (the same
    bucketed shape as MinHash-LSH banding; no n² pair space). 15-bit
    chunks give 32k bucket values per chunk index, so bucket occupancy
    stays bounded as the corpus grows — a 4-bit chunk (16 values) would
    degenerate to a quadratic skew join at scale."""
    sig = _simhash_df(spark, sf_dir)
    chunk_arr = F.array(
        *[
            F.shiftright("simhash", i * SIMHASH_CHUNK_BITS).bitwiseAND(
                F.lit(SIMHASH_CHUNK_MASK)
            )
            for i in range(_N_CHUNKS)
        ]
    )
    ch = sig.select("doc_id", "simhash", F.posexplode(chunk_arr).alias("ck", "cv"))
    a, b = ch.alias("a"), ch.alias("b")
    hamming = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("long")
    return (
        a.join(
            b,
            (F.col("a.ck") == F.col("b.ck"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        # Hamming filter BEFORE the pair dedup: bit_count is a pipelined
        # integer op on the join output, while dropDuplicates is a
        # shuffle — filtering first shuffles only the Hamming-≤3
        # survivors instead of every same-chunk candidate (measured
        # 6.9 s → ~2 s at sf0.1, where the closed vocabulary makes
        # chunk buckets hot).
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 3)
        .dropDuplicates(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


@query(
    "nd_embedding_neardup",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS sim
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id
      AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
    ORDER BY vec_a, vec_b
    """,
    tags=("dedup", "vector"),
)
def nd_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (threshold 0.4), exact, as a
    block-pair matrix product — fully distributed, no driver action.

    Vectors hash into NEARDUP_BLOCKS blocks; each row is replicated to
    the B block-pairs it participates in and every (block_a, block_b)
    group computes its similarities with ONE BLAS matmul inside
    applyInPandas. Exactly one emission per unordered pair: within a
    same-block group by vec_a < vec_b, across blocks by membership.

    Why not a relational self-join: `a JOIN b ON vec_a < vec_b` is a
    nested-loop join evaluating an interpreted 64-element lambda per
    pair — measured >6 min for 5k vectors at sf0.1; the blocked matmul
    does the identical arithmetic in milliseconds. Scale contract: the
    shuffle is B× the table (replication), each group holds ≤ 2n/B
    vectors — B tunes group memory against parallelism (B(B+1)/2
    groups), with no single node ever needing the whole table (the
    previous driver-side broadcast did). The n² flops are inherent to
    the exact variant; sim_lsh_* in queries/similarity.py is the
    sub-quadratic approximate path."""
    emb = table(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb).orderBy("vec_a", "vec_b")


def embedding_neardup_pairs(
    emb: DataFrame, threshold: float = 0.4
) -> DataFrame:
    """(vec_a, vec_b, sim): every unordered pair with cosine >=
    ``threshold``, exact, via the block-pair BLAS grid documented on
    `nd_embedding_neardup` — shared so the capture audit's
    ground-truth pass runs the same distributed kernel instead of an
    interpreted nested-loop join (measured ~50 s vs ~2 s for 2000
    vectors at sf0.1)."""
    import numpy as np
    import pandas as pd

    n_blocks = NEARDUP_BLOCKS

    def pair_sims(key, pdf):
        ba, bb = int(key[0]), int(key[1])
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        blks = pdf["blk"].to_numpy(dtype=np.int64)
        mat = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        sims = (mat @ mat.T) / np.outer(norms, norms)
        mask = (sims >= threshold) & (ids[:, None] < ids[None, :])
        if ba != bb:
            # cross-block group: only cross pairs (same-block pairs are
            # owned by the (i, i) group)
            mask &= blks[:, None] != blks[None, :]
        ia, ib = np.nonzero(mask)
        return pd.DataFrame(
            {"vec_a": ids[ia], "vec_b": ids[ib], "sim": np.round(sims[ia, ib], 4)}
        )

    tagged = emb.select(
        "vec_id",
        "embedding",
        F.pmod(F.xxhash64("vec_id"), F.lit(n_blocks)).alias("blk"),
    )
    # replicate each vector to every block-pair it belongs to; group key
    # (least, greatest) receives block i rows (partner j) and block j
    # rows (partner i) exactly once each
    rep = tagged.select(
        "vec_id",
        "embedding",
        "blk",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("pb"),
    )
    return rep.groupBy(
        F.least("blk", "pb").alias("ba"), F.greatest("blk", "pb").alias("bb")
    ).applyInPandas(pair_sims, "vec_a bigint, vec_b bigint, sim double")


@query(
    "nd_lsh_verified_pairs",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh
      FROM documents
    ), su AS (
      SELECT doc_id, unnest(sh) AS sh FROM s
    ), h AS (
      SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 15))::BIGINT % 1073741824 AS h
      FROM su
    ), mh AS (
      SELECT doc_id, i AS perm,
             MIN((h * (2*i + 1) + (12345*i + 67890)) % {PERM_P}) AS minhash
      FROM h, range({N_PERM}) t(i)
      GROUP BY doc_id, i
    ), bands AS (
      SELECT doc_id, perm // {BAND_R} AS band,
             md5(string_agg(minhash::VARCHAR, '|' ORDER BY perm)) AS sig
      FROM mh GROUP BY doc_id, perm // {BAND_R}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
      WHERE a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           ROUND(len(list_intersect(x.sh, y.sh))::DOUBLE
                 / len(list_distinct(list_concat(x.sh, y.sh))), 4) AS jaccard
    FROM cand c
    JOIN s x ON x.doc_id = c.doc_a
    JOIN s y ON y.doc_id = c.doc_b
    WHERE len(list_intersect(x.sh, y.sh))::DOUBLE
          / len(list_distinct(list_concat(x.sh, y.sh))) >= 0.2
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "minhash", "lsh", "jaccard"),
)
def nd_lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dedup flow end-to-end: MinHash-LSH generates
    candidates (sub-quadratic), exact Jaccard verifies ONLY those
    candidates (threshold 0.2). This is the composition a 100 TB corpus
    actually runs — the all-pairs `nd_ngram_jaccard` exists as the
    exactness baseline; here the verification join touches
    |candidates| × avg-shingle-count rows, nothing corpus-squared.

    Plan: the candidate pair set (tiny by the LSH guarantee on a
    curated corpus) BROADCASTS into the doc_a-side shingle probe —
    pinned with an explicit F.broadcast and a plan test, not left to
    AQE heuristics — and the doc_b side is semi-join-prefiltered to
    candidate docs, so the corpus-sized shingle table never shuffles
    on the intersection key; only candidate docs' shingles do. The
    hint is SIZE-AWARE (``PAIR_BROADCAST_MAX_ROWS``): the candidates
    are disk-checkpointed (they feed two probes anyway) and counted,
    and above the cap — a high-dup-rate corpus, where a pinned
    corpus-scale broadcast would OOM the executors — the joins fall
    back to AQE's choice."""
    from wikid_spark.operators.graph import _materialize

    cands = _materialize(
        _lsh_candidate_pairs(spark, sf_dir).select("doc_a", "doc_b")
    )
    n_cands = cands.count()
    sh = shingle_table(spark, sf_dir).select(
        "doc_id", F.xxhash64("sh").alias("sh")
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a_side = sh.select(F.col("doc_id").alias("doc_a"), "sh").join(
        _hint_if_small(cands, n_cands), "doc_a"
    )
    b_docs = cands.select(F.col("doc_b").alias("doc_id")).distinct()
    b_sh = sh.join(_hint_if_small(b_docs, n_cands), "doc_id", "left_semi")
    inter = (
        a_side.join(
            b_sh.select(F.col("doc_id").alias("doc_b"), "sh"), ["doc_b", "sh"]
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sz_a = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .filter(jac >= 0.2)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


@query(
    "nd_minhash_jaccard_est",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, unnest({_SHINGLES_SQL}) AS sh
      FROM documents
    ), {_SHINGLE_HASH_CTE}, mh AS (
      SELECT doc_id, i AS perm,
             MIN((h * (2*i + 1) + (12345*i + 67890)) % {PERM_P}) AS minhash
      FROM h, range({N_PERM}) t(i)
      GROUP BY doc_id, i
    ), bands AS (
      SELECT doc_id, perm // {BAND_R} AS band,
             md5(string_agg(minhash::VARCHAR, '|' ORDER BY perm)) AS sig
      FROM mh GROUP BY doc_id, perm // {BAND_R}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
      WHERE a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           ROUND(SUM(CASE WHEN x.minhash = y.minhash THEN 1 ELSE 0 END)
                 / {N_PERM}.0, 4) AS jaccard_est
    FROM cand c
    JOIN mh x ON x.doc_id = c.doc_a
    JOIN mh y ON y.doc_id = c.doc_b AND y.perm = x.perm
    GROUP BY c.doc_a, c.doc_b
    ORDER BY doc_a, doc_b
    """,
    tags=("dedup", "minhash"),
)
def nd_minhash_jaccard_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash ESTIMATOR itself: for every LSH candidate pair,
    estimated Jaccard = fraction of agreeing permutations (the textbook
    unbiased estimate, var j(1-j)/k). This is the cheap middle rung
    between candidates and exact verification: computed entirely from
    the one-row-per-doc signatures — a broadcast of the candidate pairs
    against the 16-column signature table, no shingle re-scan at all.
    Production uses it to pre-rank candidates before paying the exact
    intersection join of nd_lsh_verified_pairs."""
    from wikid_spark.operators.graph import _materialize

    sig = _signature_row(spark, sf_dir)
    cands = _materialize(
        _lsh_candidate_pairs(spark, sf_dir).select("doc_a", "doc_b")
    )
    a = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{i}").alias(f"a{i}") for i in range(N_PERM)],
    )
    b = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{i}").alias(f"b{i}") for i in range(N_PERM)],
    )
    matches = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_PERM)
    )
    return (
        a.join(_hint_if_small(cands, cands.count()), "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(matches / F.lit(float(N_PERM)), 4).alias("jaccard_est"),
        )
        .orderBy("doc_a", "doc_b")
    )


@query(
    "nd_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE s AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh
      FROM documents
    ), su AS (
      SELECT doc_id, unnest(sh) AS sh FROM s
    ), h AS (
      SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 15))::BIGINT % 1073741824 AS h
      FROM su
    ), mh AS (
      SELECT doc_id, i AS perm,
             MIN((h * (2*i + 1) + (12345*i + 67890)) % {PERM_P}) AS minhash
      FROM h, range({N_PERM}) t(i)
      GROUP BY doc_id, i
    ), bands AS (
      SELECT doc_id, perm // {BAND_R} AS band,
             md5(string_agg(minhash::VARCHAR, '|' ORDER BY perm)) AS sig
      FROM mh GROUP BY doc_id, perm // {BAND_R}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
      WHERE a.doc_id < b.doc_id
    ), ver AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN s x ON x.doc_id = c.doc_a
      JOIN s y ON y.doc_id = c.doc_b
      WHERE len(list_intersect(x.sh, y.sh))::DOUBLE
            / len(list_distinct(list_concat(x.sh, y.sh))) >= 0.2
    ), e AS (
      SELECT doc_a AS src, doc_b AS dst FROM ver
      UNION ALL
      SELECT doc_b, doc_a FROM ver
    ), reach(id, label) AS (
      SELECT DISTINCT src, src FROM e
      UNION
      SELECT e.dst, r.label FROM reach r JOIN e ON e.src = r.id
    )
    SELECT id AS doc_id,
           MIN(label) AS cluster,
           CAST(MIN(label) = id AS INT) AS keep
    FROM reach
    GROUP BY id
    ORDER BY doc_id
    """,
    tags=("dedup", "cluster", "graph"),
)
def nd_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup DECISION step: group the LSH-verified near-dup pairs
    into transitive clusters and pick one keeper per cluster (minimum
    doc_id — deterministic, content-independent). Output is one row per
    clustered doc: its cluster id (the component's min doc_id) and a
    keep/drop flag; docs in no pair are untouched singletons and don't
    appear. This is the step that turns pairwise similarity into an
    actual delete list — without it, near-dup pairs A~B, B~C dedup
    inconsistently (keep A drop B, keep B drop C).

    Min-label propagation runs to CONVERGENCE (driver fixpoint probe,
    operators/graph.py:connected_components_converged) because a dup
    chain's diameter is corpus-dependent — the fixed 3-iteration bound
    of graph_components would silently split long chains. The oracle is
    DuckDB's recursive CTE: full reachability, MIN(label) per node —
    converged labels on both engines or the hash differs.

    Scale: the edge set is |verified pairs| (tiny vs the corpus by the
    LSH + verify funnel); each round is one equi-join + one min-agg on
    it, checkpointed every 3 rounds to bound lineage."""
    from wikid_spark.operators.graph import connected_components_converged

    ver = nd_lsh_verified_pairs(spark, sf_dir).select("doc_a", "doc_b")
    edges = ver.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        ver.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    labels = connected_components_converged(edges, checkpoint_every=3)
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("label").alias("cluster"),
        (F.col("label") == F.col("id")).cast("int").alias("keep"),
    ).orderBy("doc_id")


@query(
    "nd_incremental_dedup",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh
      FROM documents
    ), su AS (
      SELECT doc_id, unnest(sh) AS sh FROM s
    ), h AS (
      SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 15))::BIGINT % 1073741824 AS h
      FROM su
    ), mh AS (
      SELECT doc_id, i AS perm,
             MIN((h * (2*i + 1) + (12345*i + 67890)) % {PERM_P}) AS minhash
      FROM h, range({N_PERM}) t(i)
      GROUP BY doc_id, i
    ), bands AS (
      SELECT doc_id, perm // {BAND_R} AS band,
             md5(string_agg(minhash::VARCHAR, '|' ORDER BY perm)) AS sig
      FROM mh GROUP BY doc_id, perm // {BAND_R}
    ), cand AS (
      SELECT DISTINCT nb.doc_id AS new_id, cb.doc_id AS old_id
      FROM bands nb JOIN bands cb ON nb.band = cb.band AND nb.sig = cb.sig
      WHERE nb.doc_id % 10 = 0 AND nb.doc_id < 5000
        AND NOT (cb.doc_id % 10 = 0 AND cb.doc_id < 5000)
    ), ver AS (
      SELECT c.new_id, c.old_id,
             len(list_intersect(x.sh, y.sh))::DOUBLE
               / len(list_distinct(list_concat(x.sh, y.sh))) AS j
      FROM cand c
      JOIN s x ON x.doc_id = c.new_id
      JOIN s y ON y.doc_id = c.old_id
      WHERE len(list_intersect(x.sh, y.sh))::DOUBLE
            / len(list_distinct(list_concat(x.sh, y.sh))) >= 0.2
    ), best AS (
      SELECT new_id, MIN(old_id) AS dup_of FROM ver GROUP BY new_id
    ), bj AS (
      SELECT b.new_id, b.dup_of, ROUND(v.j, 4) AS jaccard
      FROM best b JOIN ver v ON v.new_id = b.new_id AND v.old_id = b.dup_of
    )
    SELECT d.doc_id, bj.dup_of, bj.jaccard,
           CASE WHEN bj.dup_of IS NULL THEN 'keep' ELSE 'drop' END AS verdict
    FROM documents d LEFT JOIN bj ON bj.new_id = d.doc_id
    WHERE d.doc_id % 10 = 0 AND d.doc_id < 5000
    ORDER BY d.doc_id
    """,
    tags=("dedup", "minhash", "lsh", "incremental"),
)
def nd_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup — the nightly-ingest shape every corpus
    pipeline runs after the initial backfill: a (small) batch of new
    documents is checked against the (huge) existing corpus, and each
    new doc gets a keep/drop verdict; corpus docs are never re-deduped
    against each other. Here "new" is the deterministic 1/10 sample
    capped at a FIXED batch budget (doc_id % 10 = 0 AND doc_id < 5000 —
    at most 500 docs at any SF; at the driver SFs every doc_id is under
    the cap, so results are unchanged), standing in for tonight's
    arrivals. The cap keeps the benchmark a constant nightly workload
    instead of a corpus fraction — the round-5 sf10 run measured the
    proportional form quadratic across decades by construction
    (SCALE.md "workload-proportional"); docs above the cap simply count
    as corpus.

    Asymmetric by design, which is what makes it scale: band signatures
    for the BATCH side broadcast into an equi-join against the corpus
    band table — the corpus is touched by one signature pass + one
    probe, never a self-join, so cost is |corpus| + |batch| × bucket
    occupancy rather than the full-dedup pair space. Verification
    (exact Jaccard ≥ 0.2) runs only on the LSH candidates, and the
    verdict keeps the MINIMUM matching corpus doc_id (deterministic
    dup_of attribution). In production the corpus band table is the
    persisted LSH index (cf. the FTS index build) — the nightly job
    computes batch signatures only; this query recomputes both sides
    because the synthetic tables are ephemeral.

    Output: one row per batch doc — (doc_id, dup_of, jaccard, verdict);
    dup_of/jaccard NULL + 'keep' when no verified near-dup exists."""
    return _incremental_dedup_plan(spark, sf_dir)


def _incremental_dedup_plan(
    spark: SparkSession, sf_dir: str, cut=None
) -> DataFrame:
    """nd_incremental_dedup's plan with an injectable materialization
    ``cut`` (default: eager localCheckpoint). The plan-contract test
    passes an identity cut so every broadcast probe stays visible in
    ONE composite explain — the checkpoints only move where stages
    materialize, never the per-stage join strategies (the broadcasts
    are explicit hints on bounded frames)."""
    if cut is None:
        def cut(df):
            return df.localCheckpoint(eager=True)
    is_new = (F.col("doc_id") % 10 == 0) & (F.col("doc_id") < 5000)
    # One corpus signature pass, materialized: both join sides below
    # (the broadcast batch side AND the probe side) read the band
    # table, and each reference would otherwise re-run the full
    # minhash pass. The band table is |docs| × N_BANDS thin rows —
    # checkpoint-sized at any SF the bench runs; the production form
    # reads a persisted index instead (streaming/dedup_ingest).
    # Eager localCheckpoint, deliberately (ADVICE r13 proposed lazy
    # persist/deferred cuts; measured and REJECTED in round 14): the
    # cut exists to truncate the PLAN, not just to reuse blocks — the
    # band subtree is referenced ~8x downstream (nb/cb, relevant x2,
    # the broadcast probes), and with persist() Catalyst re-analyzes
    # the exponentially duplicated tree on EVERY action: 4.1-4.2 s/run
    # steady-state vs 1.6 s checkpointed at sf0.1, pure driver-side
    # planning (DISK_ONLY and MEMORY_AND_DISK identical — it is not
    # IO). localCheckpoint(eager=False) is no escape: AQE materializes
    # every shuffle stage of the subtree while CONSTRUCTING the
    # LogicalRDD, so the "lazy" form still runs the corpus pass at
    # build. The build-time job is the lesser evil; the non-reliable-
    # storage caveat (executor loss after the cut forfeits lineage)
    # stands as documented — production ingest uses the persisted LSH
    # index (streaming/dedup_ingest), not this self-signing form.
    bands = cut(_band_table(spark, sf_dir))
    nb = bands.filter(is_new).select(
        F.col("doc_id").alias("new_id"), "band", "sig"
    )
    cb = bands.filter(~is_new).select(
        F.col("doc_id").alias("old_id"), "band", "sig"
    )
    cand = (
        cb.join(F.broadcast(nb), ["band", "sig"])
        .select("new_id", "old_id")
        .dropDuplicates()
        # materialized once: the pair set is tiny (bounded by batch ×
        # bucket occupancy, already broadcast below) but its subtree
        # holds the FULL corpus band pass — every downstream reference
        # would re-sign the corpus (and re-plan the duplicated tree,
        # see the bands note above) without this cut
    )
    cand = cut(cand)
    # exact-Jaccard verify on candidates only (same funnel as
    # nd_lsh_verified_pairs: broadcast the tiny pair set into the
    # shingle probe, semi-filter the other side). Shingles and sizes
    # are computed ONLY for docs that appear in a candidate pair —
    # non-candidates keep by default through the left join, so
    # shingling the rest of the corpus would be O(corpus) exploded
    # rows the plan never reads (the round-13 profile found this full
    # shingle pass dominating the query).
    relevant = (
        cand.select(F.col("new_id").alias("doc_id"))
        .union(cand.select(F.col("old_id").alias("doc_id")))
        .distinct()
    )
    # Same cut as ``cand``: the candidate-doc shingle table is bounded
    # by batch × bucket occupancy (never corpus-scale — the semi-join
    # keeps candidate docs only), and it feeds FOUR consumers (sizes
    # twice, both join sides). This Spark's AQE never fires
    # ReusedExchange (measured, round-16), and ``ver`` below is
    # referenced by both ``best`` and the attribution join, so without
    # these two cuts the executed plan re-ran the shingle probe ~8x —
    # 25 parquet scans measured at sf0.1, ~4 after.
    sh = (
        shingles_from(
            table(spark, sf_dir, "documents").join(
                F.broadcast(relevant), "doc_id", "left_semi"
            )
        )
        .select("doc_id", F.xxhash64("sh").alias("sh"))
    )
    sh = cut(sh)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    new_sh = sh.select(F.col("doc_id").alias("new_id"), "sh").join(
        F.broadcast(cand), "new_id"
    )
    old_docs = cand.select(F.col("old_id").alias("doc_id")).distinct()
    old_sh = sh.join(F.broadcast(old_docs), "doc_id", "left_semi")
    inter = (
        new_sh.join(
            old_sh.select(F.col("doc_id").alias("old_id"), "sh"),
            ["old_id", "sh"],
        )
        .groupBy("new_id", "old_id")
        .agg(F.count("*").alias("n_inter"))
    )
    sz_n = sizes.select(F.col("doc_id").alias("new_id"), F.col("n_sh").alias("n_a"))
    sz_o = sizes.select(F.col("doc_id").alias("old_id"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    ver = (
        inter.join(sz_n, "new_id")
        .join(sz_o, "old_id")
        .filter(jac >= 0.2)
        .select("new_id", "old_id", jac.alias("j"))
    )
    # Attribution in ONE aggregation (round-17): dup_of = min(old_id)
    # and jaccard = min_by(j, old_id) — j of that same minimum row —
    # replace the round-16 min + self-join-back shape (one SMJ + two
    # exchanges gone from the tail; (new_id, old_id) is unique from the
    # inter groupBy, so min_by is deterministic and value-identical).
    # ``ver`` stays eagerly cut even though the min_by fold leaves it a
    # single consumer: the frame is batch-bounded (≤ one row per
    # batch-doc pair), and without the cut every repeated serve
    # re-runs the whole verify funnel over the candidate shingles
    # (measured +0.93 s/exec at sf0.1) — under the bench's repeat=3
    # that is 3 funnel passes instead of 1 for the same single-run
    # build+exec total. Same K-row discipline as the centroid tables.
    ver = cut(ver)
    best = ver.groupBy("new_id").agg(
        F.min("old_id").alias("dup_of"),
        F.round(F.min_by("j", "old_id"), 4).alias("jaccard"),
    )
    batch = table(spark, sf_dir, "documents").filter(is_new).select("doc_id")
    # best is batch-bounded (≤ one row per batch doc — the 500-doc cap),
    # so the verdict join pins a broadcast like every other bounded
    # frame in this funnel.
    return (
        batch.join(F.broadcast(best), batch["doc_id"] == best["new_id"], "left")
        .select(
            "doc_id",
            "dup_of",
            "jaccard",
            F.when(F.col("dup_of").isNull(), "keep")
            .otherwise("drop")
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


@query(
    "nd_semantic_dedup",
    # Cell assignment is the shared derived-K/top-2 CTE
    # (`similarity.ivf_derived_cte`) — one definition per engine pair.
    oracle=f"""
    WITH {_sem_derived_cte()}, pairs AS (
      SELECT b.vec_id AS vec_id, b.cent_id AS cent_id, a.vec_id AS a_id,
             ROUND(list_cosine_similarity(a.embedding::DOUBLE[],
                                          b.embedding::DOUBLE[]), 4) AS sim
      FROM assigned a
      JOIN assigned b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]) >= 0.4
    )
    SELECT vec_id, cent_id, MIN(a_id) AS dup_of, MIN_BY(sim, a_id) AS sim
    FROM pairs GROUP BY vec_id, cent_id
    ORDER BY vec_id, cent_id
    """,
    tags=("dedup", "vector", "semantic"),
)
def nd_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): partition the
    embedding space into K = ceil(sqrt(n)) cells (`derived_k` — K is
    DERIVED from the corpus size, not a constant), assign every vector
    to its TOP-2 nearest cells (`_assignments_multi`), then detect
    near-duplicates within each cell — each dropped vector is reported
    per detecting cell with its keeper (`dup_of` = lowest-id
    qualifying neighbor, cosine >= 0.4) and the similarity to that
    keeper.

    Scale: this is the sub-quadratic production path for embedding
    dedup — candidate pairs are Σ|cell|² instead of n²; with K =
    ceil(sqrt(n)) cells average ~sqrt(n) rows, so total work is ~n^1.5
    and each cell's pairwise block fits one task (top-2 assignment
    doubles index rows, i.e. a constant factor ~4 on pair flops, not a
    complexity change). Assignment is the exact-integer BLAS kernel
    (no corpus-scale join); the only corpus shuffle is the
    groupBy(cent_id), and each cell computes its similarity block with
    ONE BLAS matmul inside applyInPandas — the same vectorized kernel
    as nd_embedding_neardup, which measured >100x faster than an
    interpreted relational self-join on the same arithmetic. The
    top-2 multi-assignment is SemDeDup's documented mitigation for
    the within-cell restriction: a near-dup pair straddling a cell
    boundary is caught whenever EITHER member's runner-up cell is the
    other's cell (capture audited by `nd_semantic_capture_report`)."""
    import numpy as np
    import pandas as pd

    def cell_dups(key, pdf):
        # ids sorted ascending: qualifying witnesses for column j are
        # rows i < j with sim >= 0.4; keeper = the FIRST such row.
        # The similarity block is computed in COLUMN CHUNKS and only
        # for rows i < chunk_end (the lower triangle): this halves the
        # flops of a full n×n matmul and keeps each task's working set
        # at n×CH doubles instead of n² — with K concurrent cell tasks
        # the full-matrix form thrashed memory bandwidth (measured
        # ~230 s wall for ~20×11 s of matmul at sf10; a naive
        # per-column Python loop was another 280 s). All extraction is
        # vectorized (boolean argmax per column).
        CH = 1024
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        mat = np.array(pdf["embedding"].to_numpy()[order].tolist(), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        n = len(ids)
        out_j, out_i, out_s = [], [], []
        for j0 in range(0, n, CH):
            j1 = min(j0 + CH, n)
            block = (mat[:j1] @ mat[j0:j1].T) / np.outer(
                norms[:j1], norms[j0:j1]
            )
            mask = (block >= 0.4) & (ids[:j1, None] < ids[None, j0:j1])
            has = mask.any(axis=0)
            js = np.nonzero(has)[0]
            firsts = mask.argmax(axis=0)[js]
            out_j.append(j0 + js)
            out_i.append(firsts)
            out_s.append(block[firsts, js])
        js = np.concatenate(out_j) if out_j else np.array([], dtype=np.int64)
        is_ = np.concatenate(out_i) if out_i else np.array([], dtype=np.int64)
        ss = np.concatenate(out_s) if out_s else np.array([], dtype=np.float64)
        return pd.DataFrame(
            {
                "vec_id": pd.Series(ids[js.astype(np.int64)], dtype="int64"),
                "cent_id": pd.Series(
                    np.full(len(js), int(key[0])), dtype="int64"
                ),
                "dup_of": pd.Series(ids[is_.astype(np.int64)], dtype="int64"),
                "sim": pd.Series(np.round(ss, 4), dtype="float64"),
            }
        )

    from wikid_spark.queries.similarity import _assignments_multi, derived_k

    emb = table(spark, sf_dir, "embeddings")
    n = corpus_rows(sf_dir, "embeddings")
    k = derived_k(n)
    cells = _assignments_multi(emb, n_rows=n, k=k, top_m=2).select(
        "vec_id", "embedding", "cent_id"
    )
    return (
        # Explicit fixed-count repartition: the per-cell matmuls are
        # CPU-bound (~10 s per 10k-vector cell), but the cells total
        # only ~100 MB at sf10, so AQE's byte-size coalescing would
        # fold all K groups into 1-2 partitions and SERIALIZE them
        # (measured 234 s vs ~30 s). A user-specified partition count
        # is exempt from AQE coalescing. 4×K partitions, not K: hashing
        # K distinct cent_ids into exactly K partitions collides
        # (birthday effect — several cells share a task and serialize
        # while other slots idle); at 4×K collisions drop ~4x and most
        # cells get their own task (a few 2-cell tasks remain by the
        # birthday bound — for exact one-task-per-cell, repartition by
        # a dense rank of cent_id instead). Below ~100k vectors the
        # per-cell blocks are sub-millisecond and 4×K tiny Python tasks
        # cost more in per-task round-trips than they buy in collision
        # avoidance (round-16, guide §2.5 — partition counts derive
        # from the input size, not one scale's constant): small corpora
        # cap at 2×cores (measured −17% at sf0.1, value-identical);
        # CPU-bound corpora keep the 4×K de-collision layout.
        cells.repartition(
            4 * k
            if n >= 100_000
            else min(4 * k, 2 * spark.sparkContext.defaultParallelism),
            "cent_id",
        )
        .groupBy("cent_id")
        .applyInPandas(
            cell_dups, "vec_id bigint, cent_id bigint, dup_of bigint, sim double"
        )
        .orderBy("vec_id", "cent_id")
    )


@query(
    "nd_semantic_capture_report",
    oracle=f"""
    WITH {_sem_derived_cte()}, truth AS (
      SELECT a.vec_id AS i, b.vec_id AS j
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]) >= 0.4
    ), cand1 AS (
      SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
      FROM assigned a
      JOIN assigned b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      WHERE a.cent_rank = 1 AND b.cent_rank = 1
    ), cand2 AS (
      SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
      FROM assigned a
      JOIN assigned b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
    ), counts AS (
      SELECT (SELECT COUNT(*) FROM truth) AS true_pairs,
             (SELECT COUNT(*) FROM truth t
               WHERE EXISTS (SELECT 1 FROM cand1 c
                             WHERE c.i = t.i AND c.j = t.j)) AS d1,
             (SELECT COUNT(*) FROM truth t
               WHERE EXISTS (SELECT 1 FROM cand2 c
                             WHERE c.i = t.i AND c.j = t.j)) AS d2
    )
    SELECT 'top1' AS mode, true_pairs,
           d1 AS detected_pairs,
           ROUND(CAST(d1 AS DOUBLE) / NULLIF(true_pairs, 0), 4) AS capture
    FROM counts
    UNION ALL
    SELECT 'top2' AS mode, true_pairs,
           d2 AS detected_pairs,
           ROUND(CAST(d2 AS DOUBLE) / NULLIF(true_pairs, 0), 4) AS capture
    FROM counts
    ORDER BY mode
    """,
    tags=("dedup", "vector", "semantic", "audit"),
)
def nd_semantic_capture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-cell-capture audit for `nd_semantic_dedup`: of the TRUE
    near-dup pairs (brute-force cosine >= 0.4 — quadratic BY DESIGN,
    this is the exactness yardstick, same role as nd_ngram_jaccard),
    what fraction shares a cell under top-1 assignment vs under the
    production top-2 multi-assignment? The top2 row's `capture` is the
    recall the shipped `nd_semantic_dedup` funnel actually achieves;
    the top1 row is what a single-assignment SemDeDup would get — the
    gap is the cross-cell miss rate the runner-up cell recovers.

    Scale: the audit itself is O(n²) and belongs on a sample at 100 TB
    (the production funnel it audits stays ~n^1.5); everything below
    is 1-row aggregates cross-joined at the end — no driver loops."""
    from wikid_spark.queries.similarity import _assignments_multi, derived_k

    emb = table(spark, sf_dir, "embeddings")
    n = corpus_rows(sf_dir, "embeddings")
    k = derived_k(n)
    a2 = _assignments_multi(emb, n_rows=n, k=k, top_m=2).select(
        "vec_id", "cent_id", "cent_rank"
    )
    # Ground truth through the shared block-pair BLAS grid — NOT a
    # relational i<j join, whose interpreted per-pair cosine measured
    # ~50 s at sf0.1 vs ~2 s for the identical arithmetic here.
    truth = embedding_neardup_pairs(emb).select(
        F.col("vec_a").alias("i"), F.col("vec_b").alias("j")
    )
    return _capture_report(truth, a2)


def _capture_report(
    truth: DataFrame,
    assigned: DataFrame,
    max_ranks: tuple[int, ...] = (1, 2),
) -> DataFrame:
    """Shared tail of the capture audits: given the true near-dup
    pair set and a top-m cell assignment, emit one row per audited
    assignment depth ("top{r}") with detected-pair counts and capture
    ratios (1-row aggregates cross-joined — nothing corpus-scale
    leaves executors)."""

    def detected(max_rank: int) -> DataFrame:
        d = assigned.filter(F.col("cent_rank") <= max_rank)
        cand = (
            d.select(F.col("vec_id").alias("i"), "cent_id")
            .join(
                d.select(F.col("vec_id").alias("j"), "cent_id"), "cent_id"
            )
            .filter(F.col("i") < F.col("j"))
            .select("i", "j")
            .distinct()
        )
        return truth.join(cand, ["i", "j"], "left_semi").agg(
            F.count(F.lit(1)).alias(f"d{max_rank}")
        )

    counts = truth.agg(F.count(F.lit(1)).alias("true_pairs"))
    for r in max_ranks:
        counts = counts.crossJoin(detected(r))

    def row(mode: str, dcol: str):
        return counts.select(
            F.lit(mode).alias("mode"),
            "true_pairs",
            F.col(dcol).alias("detected_pairs"),
            F.round(
                F.col(dcol) / F.nullif(F.col("true_pairs"), F.lit(0)), 4
            ).alias("capture"),
        )

    out = None
    for r in max_ranks:
        part = row(f"top{r}", f"d{r}")
        out = part if out is None else out.unionByName(part)
    return out.orderBy("mode")


# Deterministic audit sample: keep vectors whose Knuth multiplicative
# hash lands in residue 0 mod CAPTURE_SAMPLE_DIV (~1/DIV of the corpus,
# content-independent, identical across engines/runs — the pp_hash_split
# idiom; constants duplicated from queries/pipeline.py to avoid a
# dedup→pipeline import cycle).
_HASH_MULT = 2654435761
_HASH_MOD = 4294967296
CAPTURE_SAMPLE_DIV = 4
_SAMPLE_PRED_SQL = (
    f"((vec_id * {_HASH_MULT}) % {_HASH_MOD}) % {CAPTURE_SAMPLE_DIV} = 0"
)


def _sampled_capture_oracle() -> str:
    cands = ",\n".join(
        f"""cand{r} AS (
      SELECT DISTINCT a.vec_id AS i, b.vec_id AS j
      FROM sa a JOIN sa b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      WHERE a.cent_rank <= {r} AND b.cent_rank <= {r}
    )"""
        for r in (1, 2, 3)
    )
    dcols = ",\n".join(
        f"""             (SELECT COUNT(*) FROM truth t
               WHERE EXISTS (SELECT 1 FROM cand{r} c
                             WHERE c.i = t.i AND c.j = t.j)) AS d{r}"""
        for r in (1, 2, 3)
    )
    selects = "\n    UNION ALL\n".join(
        f"""    SELECT 'top{r}' AS mode, true_pairs,
           d{r} AS detected_pairs,
           ROUND(CAST(d{r} AS DOUBLE) / NULLIF(true_pairs, 0), 4) AS capture
    FROM counts"""
        for r in (1, 2, 3)
    )
    return f"""
    WITH {_sem_derived_cte(top_m=3)}, samp AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE {_SAMPLE_PRED_SQL}
    ), truth AS (
      SELECT a.vec_id AS i, b.vec_id AS j
      FROM samp a JOIN samp b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding::DOUBLE[],
                                   b.embedding::DOUBLE[]) >= 0.4
    ), sa AS (
      SELECT vec_id, cent_id, cent_rank FROM assigned
      WHERE {_SAMPLE_PRED_SQL}
    ), {cands}, counts AS (
      SELECT (SELECT COUNT(*) FROM truth) AS true_pairs,
{dcols}
    )
{selects}
    ORDER BY mode
    """


@query(
    "nd_semantic_capture_sampled",
    oracle=_sampled_capture_oracle(),
    tags=("dedup", "vector", "semantic", "audit", "sampled"),
)
def nd_semantic_capture_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`nd_semantic_capture_report` on a deterministic 1/{DIV} hash
    sample — the form of the audit that actually runs at scale. The
    INDEX is unchanged (centroids over the FULL corpus, K =
    ceil(sqrt(n)) from full n): the sample restricts only the
    quadratic ground-truth pass and the pair audit, so truth cost
    drops DIV² (16×) while capture stays an unbiased estimate of the
    full report's — pair (i, j) is audited iff both ids hash into the
    sample, independent of cell geometry (validated at sf0.1: sampled
    top-2 capture 0.354 vs full 0.349).

    Audits assignment depths top-1/2/3 — top-3 is the capture dial
    SCALE.md's round-9 analysis names for raising recall at scale:
    +1 assignment costs +n index rows (O(√n) per cell), never a
    threshold on cells that grow with the corpus.

    Scale: this is what makes the audit runnable at sf1/sf10/100 TB
    where the full report's O(n²) truth pass is prohibitive: pick DIV
    so the sample is ~50-100k vectors and truth is a fixed-size
    block-BLAS job regardless of corpus size; the non-quadratic parts
    (assignment scan) stay O(n·K)."""
    from wikid_spark.queries.similarity import _assignments_multi, derived_k

    emb = table(spark, sf_dir, "embeddings")
    n = corpus_rows(sf_dir, "embeddings")
    k = derived_k(n)
    keep = (
        (F.col("vec_id") * _HASH_MULT) % _HASH_MOD
    ) % CAPTURE_SAMPLE_DIV == 0
    a3 = (
        _assignments_multi(emb, n_rows=n, k=k, top_m=3)
        .select("vec_id", "cent_id", "cent_rank")
        .filter(keep)
    )
    truth = embedding_neardup_pairs(emb.filter(keep)).select(
        F.col("vec_a").alias("i"), F.col("vec_b").alias("j")
    )
    return _capture_report(truth, a3, max_ranks=(1, 2, 3))
