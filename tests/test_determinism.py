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


# Kernel results must not depend on how many slices the cogrouped
# harness hashes the input into (exact integer distances, exact int64
# partial sums), so forcing the slice count to 1, 7 and 64 must give
# identical rows; the all-JVM assignment twin is the reference.
@pytest.mark.parametrize(
    "kernel", ["assign_top1", "assign_top2", "assign_partials", "pq_encode"]
)
def test_kernel_slice_count_invariant(spark, monkeypatch, kernel):
    import pyspark.sql.functions as F

    import wikid_spark.queries.similarity as S
    from wikid_spark.catalog import corpus_rows, table

    emb = table(spark, SF_SMALL, "embeddings")
    qemb = emb.select(
        "vec_id", S.quantize_embedding(F.col("embedding")).alias("qemb")
    )
    n = corpus_rows(SF_SMALL, "embeddings")
    k = S.derived_k(n)
    cents = S._centroids(emb, k).localCheckpoint(eager=True)

    def cell_sums(df, n_col, s_col):
        return df.groupBy("cent_id").agg(
            F.sum(n_col).alias("n"),
            F.expr(
                "array("
                + ",".join(f"sum({s_col}[{d}])" for d in range(S.EMBED_DIMS))
                + ")"
            ).alias("s"),
        )

    if kernel == "pq_encode":
        cb = S._pq_codebooks(emb)

        def run():
            return S._pq_encode(qemb, cb, with_dist=True, n_rows=n)

        twin = None
    elif kernel == "assign_partials":

        def run():
            return cell_sums(
                S._assign_partials(qemb, cents, n_rows=n, k=k), "n", "s"
            )

        twin = cell_sums(
            S._assign_jvm(qemb, cents).withColumn("one", F.lit(1)),
            "one",
            "qemb",
        )
    else:
        top_m = 1 if kernel == "assign_top1" else 2

        def run():
            return S._assign_blas(qemb, cents, top_m=top_m, n_rows=n, k=k)

        twin = S._assign_jvm(qemb, cents, top_m=top_m)
        # route this small pass to the kernel, not the JVM twin
        monkeypatch.setattr(S, "_ASSIGN_JVM_MAX_ROW_CELLS", 0)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    got = {}
    for slices in (1, 7, 64):
        monkeypatch.setattr(S, "_kernel_slices", lambda n_rows, k, cores: slices)
        df = run()
        assert "FlatMapCoGroupsInPandas" in df._jdf.queryExecution().analyzed().toString()
        got[slices] = rows(df)
    assert got[1] and got[1] == got[7] == got[64]
    if twin is not None:
        assert got[1] == rows(twin)


# Slice counts follow defaultParallelism, so a trained query must give
# the same rows on one core as on N. One JVM holds one SparkContext, so
# the local[1] run is a subprocess (its own cwd: two sessions in one
# cwd contend for the Derby metastore lock).
_LOCAL1_RUN = """
import json, sys
from wikid_spark.oracle import canonical_rows
from wikid_spark.registry import all_queries
from wikid_spark.session import get_spark

spark = get_spark(app_name="wikid_spark_local1")
df = all_queries()[sys.argv[1]].fn(spark, sys.argv[2])
rows = canonical_rows(df.columns, [tuple(r) for r in df.collect()])
spark.stop()
print(json.dumps(rows))
"""


def test_core_count_invariant(spark, tmp_path):
    import json
    import os
    import subprocess
    import sys

    from wikid_spark.oracle import canonical_rows

    name = "sim_kmeans_converged"
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_CPUS="1")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo, env.get("PYTHONPATH")) if p
    )
    out = subprocess.run(
        [sys.executable, "-c", _LOCAL1_RUN, name, SF_SMALL],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    one_core = [tuple(r) for r in json.loads(out.stdout.strip().splitlines()[-1])]

    df = all_queries()[name].fn(spark, SF_SMALL)
    n_core = canonical_rows(df.columns, [tuple(r) for r in df.collect()])
    assert spark.sparkContext.defaultParallelism > 1
    assert one_core and one_core == n_core
