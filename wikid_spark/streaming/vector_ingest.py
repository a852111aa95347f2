"""Streaming SEMANTIC dedup against a persisted, EVOLVING vector index.

The embedding-side twin of `streaming.dedup_ingest`: the corpus is
assigned ONCE to K = ceil(sqrt(n)) derived centroids under TOP-2
multi-assignment (the SemDeDup index `queries.dedup.nd_semantic_dedup`
certifies), and persisted cell-partitioned. Each arriving micro-batch
of new vectors only assigns ITSELF against the FROZEN centroid table
(standard IVF ingest — centroids re-derive at compaction, not per
batch), probes the corpus cells its members landed in, cosine-verifies
within cells, and appends per-vector keep/drop verdicts. The corpus is
never re-assigned per batch — nightly cost is O(batch · sqrt(n)), not
O(corpus).

Evolution and replay mirror `dedup_ingest` exactly (shared contract,
shared tests discipline):

* kept batch vectors' cell assignments append under deterministic
  ``batch_id=<n>`` partitions (read-your-own-writes: later batches'
  near-dups of them are caught);
* a batch's own probe reads strictly ``batch_id < n`` — replay
  deterministic;
* verdicts and appends overwrite their own ``batch_id=<n>`` paths —
  exactly-once under Structured Streaming's sequential-batch contract;
* `compact_vector_index` folds deltas into the ``batch_id=-1`` base
  with the same crash-safe heal/two-rename discipline
  (`evolving_index.compact_index_parts`), keeping ``cent_id`` directory
  partitioning so probes stay partition-pruned.

Semantics are CELL-RESTRICTED by definition (the SemDeDup trade): a
batch vector is dropped iff some prior vector shares one of its top-2
cells with cosine >= the threshold; `dup_of` is the lowest qualifying
vec_id. The batch-twin equivalence tests pin stream == batch under
this definition; `queries.dedup.nd_semantic_capture_report` quantifies
the cell restriction itself against brute-force truth.

Scale: the probe reads only the (<= 2 x |batch|) cells the batch
touched — directory-pruned on ``cent_id`` and ``batch_id`` — and the
within-cell verify joins batch rows (broadcast) against those cells'
rows. Centroids are a K-row table, broadcast into the batch
assignment kernel; nothing corpus-scale ever shuffles.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import partial

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from wikid_spark.functions.vectors import cosine_similarity
from wikid_spark.queries.similarity import (
    _assign_blas,
    _centroids,
    derived_k,
    quantize_embedding,
)
from wikid_spark.streaming.dedup_ingest import (
    CAND_PUSHDOWN_MAX_IDS as CELL_PUSHDOWN_MAX_IDS,
)
from wikid_spark.streaming import evolving_index as _engine
from wikid_spark.streaming.evolving_index import compact_index_parts

COSINE_THRESHOLD = 0.4


def _qemb(vectors: DataFrame) -> DataFrame:
    return vectors.select(
        "vec_id",
        "embedding",
        quantize_embedding(F.col("embedding")).alias("qemb"),
    )


def _assign_cells(
    vectors: DataFrame, centroids: DataFrame, *, n_rows: int, k: int
) -> DataFrame:
    """(vec_id, embedding, cent_id): top-2 cells per vector against an
    explicit centroid table — the batch-side assignment against the
    index's FROZEN centroids, sized by ``n_rows`` vectors (or a bound)
    and ``k`` centroid rows (or a bound)."""
    return _assign_blas(
        _qemb(vectors),
        centroids,
        top_m=2,
        out_cols=["vec_id", "embedding"],
        n_rows=n_rows,
        k=k,
    ).select("vec_id", "embedding", "cent_id")


def _batch_sizing(batch: DataFrame, index_dir: str) -> dict:
    """Kernel sizing for one micro-batch: one count of the batch (the
    writer checkpoints it eagerly first; the count also bounds its kept
    subset) and the row count of the frozen K-row centroid table."""
    cents = batch.sparkSession.read.parquet(f"{index_dir}/centroids")
    return {"n_rows": batch.count(), "k": cents.count()}


def _sign_cells(
    vectors: DataFrame, index_dir: str, *, n_rows: int, k: int
) -> dict:
    """The vector index's `sign` kernel for the shared evolving-index
    engine, with its sizing bound by the caller: top-2 cell
    assignments against the index's FROZEN centroid table (read back
    from the index dir, never re-derived per batch), cell-partitioned
    so probes directory-prune on cent_id."""
    cents = vectors.sparkSession.read.parquet(f"{index_dir}/centroids")
    cells = _assign_cells(vectors, cents, n_rows=n_rows, k=k)
    return {"cells": (cells, ("cent_id",))}


def persist_vector_index(
    vectors: DataFrame, index_dir: str, train_rounds: int = 0
) -> None:
    """Build and persist the corpus vector index: the derived-K
    centroid table (K rows) and the top-2 cell assignments
    (cell-partitioned, under ``batch_id=-1`` so streaming appends
    evolve the same tree).

    ``train_rounds > 0`` Lloyd-trains the centroids before the corpus
    assignment (`lloyd_train`, early-stopping at the exact fixpoint) —
    the round-9 ANN measurements show training aligns cells to the
    data (recall +44% at sf0.1 at unchanged probe cost), and for the
    dedup index better-aligned cells mean more near-dup pairs sharing
    a cell at the same √n probe budget. Training costs ``train_rounds``
    broadcast-K corpus passes at BUILD time only; batch probes are
    unchanged (the centroid table is frozen either way)."""
    from wikid_spark.queries.similarity import lloyd_train

    n = vectors.count()
    k = derived_k(n)
    cents = _centroids(vectors, k)
    if train_rounds > 0:
        dims = len(vectors.select("embedding").head()[0])
        cents, _ = lloyd_train(
            _qemb(vectors).select("vec_id", "qemb"),
            cents,
            max_rounds=train_rounds,
            dims=dims,
            n_rows=n,
        )
    cents.write.mode("overwrite").parquet(f"{index_dir}/centroids")
    # n and K bound the (possibly Lloyd-shrunk) table: no second count
    _engine.persist_index(partial(_sign_cells, n_rows=n, k=k), vectors, index_dir)


def _read_cells(
    spark: SparkSession, index_dir: str, as_of_batch: int | None
) -> DataFrame:
    return _engine.read_part(spark, index_dir, "cells", as_of_batch)


def vector_batch_verdicts(
    spark: SparkSession,
    batch: DataFrame,
    index_dir: str,
    as_of_batch: int | None = None,
    threshold: float = COSINE_THRESHOLD,
) -> DataFrame:
    """Per batch vector: ``(vec_id, dup_of, sim, verdict)`` — 'drop'
    iff a prior vector shares one of the batch vector's top-2 cells
    with cosine >= ``threshold``; dup_of = lowest such vec_id, sim =
    that vector's (rounded) cosine. The index scan is pruned to the
    batch's touched cells (cent_id IN-pushdown on the directory
    partitioning — batch-bounded, corpus-independent)."""
    sizing = _batch_sizing(batch, index_dir)
    return _cell_verdicts(spark, batch, index_dir, as_of_batch, threshold, sizing)


def _cell_verdicts(spark, batch, index_dir, as_of_batch, threshold, sizing):
    """`vector_batch_verdicts` with the batch's `_batch_sizing`."""
    cents = spark.read.parquet(f"{index_dir}/centroids")
    assigned = _assign_cells(batch, cents, **sizing).localCheckpoint(eager=True)
    # Touched-cell set is ≤ 2·|batch| ids, but a huge micro-batch (or
    # a replay over a fat window) must not inline an unbounded literal
    # list into the plan: mirror dedup_ingest's CAND_PUSHDOWN_MAX_IDS
    # discipline — IN-literal pushdown (partition-prunes the cell
    # directory scan) below the cap, broadcast semi-join above it.
    touched_df = assigned.select("cent_id").distinct()
    n_touched = touched_df.count()
    corpus = _read_cells(spark, index_dir, as_of_batch)
    if n_touched <= CELL_PUSHDOWN_MAX_IDS:
        touched = [r[0] for r in touched_df.collect()]
        corpus = corpus.filter(F.col("cent_id").isin(touched))
    else:
        corpus = corpus.join(
            F.broadcast(touched_df), "cent_id", "left_semi"
        )
    cand = (
        corpus.select(
            "cent_id",
            F.col("vec_id").alias("old_id"),
            F.col("embedding").alias("old_emb"),
        )
        .join(
            F.broadcast(
                assigned.select(
                    "cent_id",
                    F.col("vec_id").alias("new_id"),
                    F.col("embedding").alias("new_emb"),
                )
            ),
            "cent_id",
        )
        .filter(F.col("old_id") != F.col("new_id"))
        .select(
            "new_id",
            "old_id",
            F.round(
                cosine_similarity(F.col("old_emb"), F.col("new_emb")), 4
            ).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )
    best = cand.groupBy("new_id").agg(
        F.min("old_id").alias("dup_of"),
        F.min_by("sim", "old_id").alias("sim"),
    )
    ids = batch.select("vec_id").dropDuplicates()
    return (
        ids.join(best, ids["vec_id"] == best["new_id"], "left")
        .select(
            "vec_id",
            "dup_of",
            "sim",
            F.when(F.col("dup_of").isNull(), "keep")
            .otherwise("drop")
            .alias("verdict"),
        )
        .orderBy("vec_id")
    )


def append_kept_to_vector_index(
    batch: DataFrame, kept_ids: DataFrame, index_dir: str, batch_id: int
) -> None:
    """Append the kept vectors' cell assignments under this batch's
    partition — overwrite mode, so a replayed batch rewrites its own
    appends byte-identically instead of duplicating them. Assignment
    uses the index's frozen centroids (read back, not re-derived)."""
    sign = partial(_sign_cells, **_batch_sizing(batch, index_dir))
    _engine.append_kept(sign, batch, kept_ids, "vec_id", index_dir, batch_id)


def vector_verdict_batch_writer(
    spark: SparkSession, index_dir: str, out_dir: str
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: verdicts for the micro-batch against index
    state ``batch_id < n`` (replay-deterministic), then the kept
    vectors' assignments appended under ``batch_id = n``.
    ``checkpoint_batch``: the batch feeds both the probe and the
    append-side re-assignment, so it is eagerly materialized once, and
    the probe's one count of it sizes the append of its kept subset
    too."""
    sizing: dict = {}  # each batch's probe sizes it; its append reuses it

    def probe(spark, batch, index_dir, as_of_batch):
        sizing.update(_batch_sizing(batch, index_dir))
        return _cell_verdicts(
            spark, batch, index_dir, as_of_batch, COSINE_THRESHOLD, sizing
        )

    return _engine.verdict_batch_writer(
        spark,
        index_dir,
        out_dir,
        probe=probe,
        sign=lambda kept, d: _sign_cells(kept, d, **sizing),
        id_col="vec_id",
        checkpoint_batch=True,
    )


def read_vector_verdicts(spark: SparkSession, out_dir: str) -> DataFrame:
    return _engine.read_verdict_log(
        spark, out_dir, ("vec_id", "dup_of", "sim", "verdict")
    )


def compact_vector_index(spark: SparkSession, index_dir: str) -> None:
    """Fold base + per-batch deltas back into a single ``batch_id=-1``
    base, keeping the ``cent_id`` directory partitioning — same
    crash-safe heal/two-rename discipline as the LSH index
    (`evolving_index.compact_index_parts`). Centroid RE-DERIVATION (for
    drift after heavy ingest) belongs here too: rebuild with
    `persist_vector_index` over the folded vectors when cell-size
    skew exceeds tolerance — a full re-index, priced as one corpus
    pass."""
    compact_index_parts(
        spark, index_dir, ("cells",), partition_cols=("cent_id",)
    )
