"""Every registered query must be RUN-DETERMINISTIC: two executions on
the same session and data produce identical rows.

This is the regression net for the keeper-selection class of bug (a
`dropDuplicates` survivor or an unordered `first()` is plan-dependent
and can flip between runs/partitionings — the round-3 verdict's
`wikipedia_articles` finding). The driver's oracle hash-compare only
catches nondeterminism when it happens to disagree with DuckDB on the
checked run; this asserts the property directly.

sf0.001 keeps the sweep cheap; determinism is a per-plan property, not
a data-scale one.
"""

from __future__ import annotations

import pytest

from wikid_spark.registry import all_queries

SF_SMALL = "/root/testdata/sf0.001"

# The heaviest rerun certifications (>= 3 s each at local[4]; ~300 s of
# the file's 434 s — the index-building ANN/PQ/report paths) carry the
# `soak` marker so the default suite fits the driver's verify budget
# (VERDICT r16 #3, pytest.ini). Determinism stays covered by default
# for 130+ cheap params across every query family, and every name
# below still passes test_oracle's DuckDB mirror in the default run;
# the full sweep is `-m ""` away.
_HEAVY = {
    "alias_priors",
    "fts_bm25_topk",
    "fts_hybrid_rrf_multi",
    "fts_hybrid_rrf_multi_persisted",
    "nd_dedup_clusters",
    "nd_incremental_dedup",
    "nd_semantic_capture_sampled",
    "nd_simhash_candidates",
    "nd_simhash_signatures",
    "pp_training_corpus",
    "sim_ann_auto_balanced_topk",
    "sim_ivf_refined_topk",
    "sim_ivfpq8_residual_np4_topk",
    "sim_ivfpq8_serve_persisted",
    "sim_ivfpq_residual_np4_topk",
    "sim_ivfpq_residual_topk",
    "sim_ivfpq_topk",
    "sim_ivfpq_trained_topk",
    "sim_kmeans_converged",
    "sim_kmeans_lloyd",
    "sim_lsh_multitable_topk",
    "sim_pq8_index_stats",
    "sim_pq8_rerank_topk",
    "sim_pq8_trained_rerank_topk",
    "sim_pq_adc_topk",
    "sim_pq_auto_rerank_topk",
    "sim_pq_index_stats",
    "sim_pq_rerank_topk",
    "sim_pq_trained_rerank_topk",
    "sim_recall_report",
    "tx_bpe_encode",
    "tx_bpe_wordfreq",
}


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(n, marks=pytest.mark.soak) if n in _HEAVY else n
        for n in sorted(all_queries())
    ],
)
def test_rerun_identical(spark, name):
    fn = all_queries()[name].fn
    first = [tuple(r) for r in fn(spark, SF_SMALL).collect()]
    second = [tuple(r) for r in fn(spark, SF_SMALL).collect()]
    assert first == second


# The trained ANN/PQ families are soak-only in test_rerun_identical,
# so the default run would never rerun Lloyd or PQ training. This
# keeps one of each in it; dropping the train-once memos between the
# runs makes the second run retrain from scratch wherever a build is
# memoized, so training must be as deterministic as serving.
@pytest.mark.parametrize(
    "name", ["sim_kmeans_converged", "sim_pq_trained_rerank_topk"]
)
def test_retrain_rerun_identical(spark, name):
    import wikid_spark.queries.similarity as S

    fn = all_queries()[name].fn
    first = [tuple(r) for r in fn(spark, SF_SMALL).collect()]
    S._drop_ann_memos()
    second = [tuple(r) for r in fn(spark, SF_SMALL).collect()]
    assert first == second
