"""Streaming FTS index maintenance — the lexical engine's evolving
on-disk twin (round 15; the third instance of the shared
`streaming.evolving_index` machine, after the LSH shingle index and
the IVF vector index — the engine's docstring named FTS postings as
the intended next plug-in).

The persisted serving layout (`operators.fts.persist_fts_index`)
freezes a corpus. This module lets the SAME term-bucketed layout
EVOLVE under ingest: each micro-batch of new documents appends its
postings, per-term document frequencies, and corpus-stat increments
under deterministic ``batch_id=n`` partitions, and BM25 serves from
base + deltas with read-your-own-writes across batches.

The term-bucket count is sized ONCE, by the corpus base, from its
postings count (`operators.fts.fts_term_buckets` of the base's
Σ doc length), and recorded in ``{index_dir}/layout.json`` before any
part is written. Appends, compaction and serves never re-derive it:
they read it back (`operators.fts.fts_layout_buckets`), so a batch's
postings land in the base's buckets and a probe prunes with the count
the directories were laid out under. An index without layout.json
raises instead of guessing.

Why every component stays exactly reconstructible (serve ==
from-scratch rebuild, which the tests pin):

* **postings** are per-document rows — append-only disjoint unions
  (the ingest contract is append-only document ids, the same contract
  the dedup indexes' kept-appends rely on);
* **df** is per-(term, batch) COUNT(DISTINCT doc); with each doc in
  exactly one batch, corpus df = SUM over batch partials — an
  ADDITIVE decomposition (the A2 alias-counts merge discipline);
* **stats** are (n_docs, n_dl, sum_dl) LONG increments; corpus
  n_docs = SUM(n_docs) (all rows — the idf denominator counts
  NULL-text docs) and avgdl = SUM(sum_dl)/SUM(n_dl) (non-NULL texts
  only — F.avg's semantics). All partials are exact integers, so the
  served values are the bit-identical doubles the rebuild computes.

Replay/crash inherit the engine contract: appends overwrite their own
``batch_id=n`` paths (at-least-once replays rewrite byte-identically);
`compact_streaming_fts_index` folds deltas into the ``batch_id=-1``
base with the shared heal-preamble + two-rename swap, keeping the
``tbucket`` directory partitioning (and so the recorded bucket count)
so probes stay partition-pruned.

Scale: an append costs one tokenize pass over the BATCH; a serve reads
the query terms' bucket directories across base + deltas (still
~Σ_t df(t) rows — deltas add directories, not scan width), and
compaction restores one-file-per-bucket. Nothing corpus-scale moves
per batch.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from wikid_spark.operators.fts import (
    _POSTINGS_SCHEMA,
    _probe_buckets,
    _term_bucket_col,
    bm25_score_tail,
    build_inverted_index,
    fold_term,
    fts_layout_buckets,
    fts_term_buckets,
    tokenize,
    write_fts_layout,
)
from wikid_spark.streaming import evolving_index as _engine

_PARTS = ("postings", "termstats", "stats")
_STATS_SCHEMA = "n_docs long, n_dl long, sum_dl long"


def _stats_increment(docs: DataFrame) -> DataFrame:
    """The additive corpus-stat row a set of (doc_id, text) rows
    contributes. Three exact-integer partials, mirroring
    bm25_from_docs' two-sided semantics precisely: ``n_docs`` counts
    EVERY row (the idf denominator counts NULL-text docs too) while
    ``n_dl``/``sum_dl`` cover only non-NULL texts (F.avg skips NULLs),
    so the served avgdl = Σsum_dl / Σn_dl is bit-identical to the
    rebuild's AVG (round-15 review: dividing by n_docs diverged on a
    NULL-text doc)."""
    return docs.select(F.size(tokenize("text")).alias("_dl")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count("_dl").cast("long").alias("n_dl"),
        F.coalesce(F.sum("_dl"), F.lit(0)).cast("long").alias("sum_dl"),
    )


def _write_components(
    docs: DataFrame, index_dir: str, batch_id: int
) -> None:
    """One batch's (or the corpus base's) three components, from ONE
    tokenize+explode pass: postings are written first, termstats
    derive from the just-written parquet (a columnar re-read — no
    second explode; round-15 review caught the three-jobs-three-
    tokenizes shape the old sign-dict write had), and the stat
    increments are a size-only map pass (no explode).

    The base collects its one-row stat increment first: its Σ doc
    length is the postings count that sizes the index's term buckets,
    recorded in layout.json before any part. An append reads that
    count back and keeps its stats write lazy."""
    spark = docs.sparkSession
    if batch_id == _engine.BASE_BATCH_ID:
        row = _stats_increment(docs).first()
        stats = spark.createDataFrame([tuple(row)], _STATS_SCHEMA)
        buckets = fts_term_buckets(row["sum_dl"])
        write_fts_layout(spark, index_dir, buckets)
    else:
        stats = _stats_increment(docs)
        buckets = fts_layout_buckets(spark, index_dir)
    postings = build_inverted_index(docs, "doc_id", "text").withColumn(
        "tbucket", _term_bucket_col(F.col("term"), buckets)
    )
    _engine.write_part(postings, index_dir, "postings", batch_id, ("tbucket",))
    written = spark.read.schema(_POSTINGS_SCHEMA).parquet(
        f"{index_dir}/postings/batch_id={batch_id}"
    )
    termstats = written.groupBy("tbucket", "term").agg(
        F.count_distinct("doc").alias("df")
    )
    _engine.write_part(termstats, index_dir, "termstats", batch_id, ("tbucket",))
    _engine.write_part(stats, index_dir, "stats", batch_id, ())


def persist_streaming_fts_index(docs: DataFrame, index_dir: str) -> None:
    """Build the corpus base under ``batch_id=-1`` so streaming appends
    evolve the same tree. ``docs`` must carry (doc_id, text)."""
    _write_components(docs, index_dir, _engine.BASE_BATCH_ID)


def append_docs_to_fts_index(
    batch: DataFrame, index_dir: str, batch_id: int
) -> None:
    """Append one micro-batch's postings/df/stat increments under its
    ``batch_id`` partitions — overwrite mode, so a replayed batch
    rewrites its own appends byte-identically (engine contract).
    Append-only corpus: batch doc_ids must be new (the df and stats
    decompositions assume each doc lands in exactly one batch)."""
    _write_components(batch, index_dir, batch_id)


def fts_index_batch_writer(
    spark: SparkSession, index_dir: str
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: append the micro-batch's (doc_id, text) rows
    to the evolving index. Kept deliberately verdict-free — FTS ingest
    is index MAINTENANCE; compose with the dedup writers upstream when
    only kept docs should be indexed."""

    def write(batch: DataFrame, batch_id: int) -> None:
        append_docs_to_fts_index(
            batch.select("doc_id", "text"), index_dir, batch_id
        )

    return write


# Explicit read schemas per component (+ the batch_id partition col):
# a degenerate corpus writes zero data files and inference fails.
_PART_SCHEMAS = {
    "postings": _POSTINGS_SCHEMA + ", batch_id int",
    "termstats": "term string, df bigint, tbucket int, batch_id int",
    "stats": _STATS_SCHEMA + ", batch_id int",
}


def _read(spark, index_dir, part, as_of_batch):
    return _engine.read_part(
        spark, index_dir, part, as_of_batch, schema=_PART_SCHEMAS[part]
    )


def bm25_streaming(
    spark: SparkSession,
    index_dir: str,
    terms: list[str],
    as_of_batch: int | None = None,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 over the EVOLVING index as of ``as_of_batch`` (strictly
    earlier batches; None = everything) — value-identical to a
    from-scratch `bm25_from_docs` over the same document set: tf rows
    are the filtered postings union, df is the SUM of batch partials,
    and avgdl = SUM(sum_dl)/SUM(n_dl) reproduces AVG bit-for-bit
    (exact-integer partials). Scan shape matches `bm25_persisted`:
    bucket-dir pruned across base + deltas, never the corpus."""
    t = [fold_term(s) for s in terms]
    buckets = _probe_buckets(spark, index_dir, t)
    corpus = _read(spark, index_dir, "stats", as_of_batch).agg(
        F.sum("n_docs").cast("double").alias("n_docs"),
        (
            F.sum("sum_dl").cast("double")
            / F.sum("n_dl").cast("double")
        ).alias("avgdl"),
    )
    dfreq = (
        _read(spark, index_dir, "termstats", as_of_batch)
        .filter(F.col("tbucket").isin(buckets))
        .filter(F.col("term").isin(t))
        .groupBy("term")
        .agg(F.sum("df").alias("df"))
    )
    tf = (
        _read(spark, index_dir, "postings", as_of_batch)
        .filter(F.col("tbucket").isin(buckets))
        .filter(F.col("term").isin(t))
        .groupBy("term", "doc", "doc_len")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return bm25_score_tail(tf, dfreq, corpus, k1, b)


def compact_streaming_fts_index(spark: SparkSession, index_dir: str) -> None:
    """Fold base + deltas into a single ``batch_id=-1`` base per
    component (shared crash-safe heal/two-rename discipline). The
    bucketed parts keep tbucket directory pruning under the recorded
    bucket count (layout.json is not touched) and return to
    one-file-per-bucket; the additive parts (termstats partials,
    stat increments) are folded AS ROWS — their serving aggregations
    are sums, so row-level folding preserves every served value."""
    for part in ("postings", "termstats"):
        _engine.compact_index_parts(
            spark,
            index_dir,
            (part,),
            partition_cols=("tbucket",),
            schema=_PART_SCHEMAS[part],
        )
    _engine.compact_index_parts(
        spark, index_dir, ("stats",), schema=_PART_SCHEMAS["stats"]
    )
