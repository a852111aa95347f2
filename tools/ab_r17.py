"""Round-17 interleaved A/B harness (guide §1: measure first, within
one session so host drift hits both variants equally).

Subcommands (argv[1]):

* ``multitable`` — sim_lsh_multitable_topk candidate dedup: round-13
  shape (dedup the pair FIRST, carry both 64-dim vectors through the
  dropDuplicates exchange, score once after) vs round-17 shape (score
  map-side before the exchange, shuffle only (query_id, neighbor_id,
  sim)). VERDICT r16 #8. Value-equality checked with exceptAll both
  ways before timing.

* ``pqcols`` — the four watch-listed PQ serve queries (VERDICT r16
  #7: sim_ivfpq_topk, sim_ivfpq_residual_np4_topk,
  sim_pq_trained_rerank_topk, sim_pq8_trained_rerank_topk) with the
  round-16 ``out_cols`` narrowing ON (shipped code) vs OFF
  (monkeypatched passthrough) — the driver read 0.72-0.93x on these
  and the only r16 code change was the narrowing.

Usage: python tools/ab_r17.py <sub> [reps] → one JSON line.
$SPARK_GRAFT_SF_DIR selects the corpus (default sf0.1).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F
from pyspark.sql import Window

from wikid_spark.session import get_spark


def _warm(spark, sf_dir):
    from wikid_spark.catalog import TABLES
    from wikid_spark.catalog import table as _t

    for t in TABLES:
        _t(spark, sf_dir, t).write.mode("overwrite").format("noop").save()
    spark.range(32).groupBy((F.col("id") % 4).alias("g")).applyInPandas(
        lambda pdf: pdf, "id long"
    ).write.mode("overwrite").format("noop").save()


def _noop(df):
    df.write.mode("overwrite").format("noop").save()


def _time_interleaved(variants: dict, reps: int) -> dict:
    runs = {n: [] for n in variants}
    for n in variants:  # warm both plans once (codegen, broadcasts)
        _noop(variants[n])
    for _ in range(reps):
        for n in variants:
            t0 = time.perf_counter()
            _noop(variants[n])
            runs[n].append(time.perf_counter() - t0)
    return {
        n: {
            "p50_s": round(statistics.median(v), 3),
            "min_s": round(min(v), 3),
            "max_s": round(max(v), 3),
            "runs": [round(x, 3) for x in v],
        }
        for n, v in runs.items()
    }


def _multitable_old(spark, sf_dir):
    """The round-13..16 shape, rebuilt verbatim from git (dedup first,
    both vectors ride the exchange, score after)."""
    from wikid_spark.catalog import corpus_rows, table
    from wikid_spark.functions.vectors import cosine_similarity
    from wikid_spark.queries.similarity import (
        N_TABLES,
        _bucket_expr_t,
        _corpus_bucketed,
        quantize_embedding,
    )

    emb = table(spark, sf_dir, "embeddings")
    buckets_arr = F.array(
        *[_bucket_expr_t(F.col("qemb"), t).cast("long") for t in range(N_TABLES)]
    )
    bucketed = _corpus_bucketed(
        emb, corpus_rows(sf_dir, "embeddings"), N_TABLES
    ).select("vec_id", "embedding", F.posexplode("_bkts").alias("t", "bucket"))
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
    cands = (
        bucketed.join(
            F.broadcast(q),
            (F.col("t") == F.col("qt")) & (F.col("bucket") == F.col("qbucket")),
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), "embedding", "qe"
        )
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_similarity(F.col("embedding"), F.col("qe")), 4
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id")
    )
    return (
        cands.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .orderBy("query_id", "rn")
    )


def run_multitable(spark, sf_dir, reps):
    from wikid_spark.queries.similarity import sim_lsh_multitable_topk

    new = sim_lsh_multitable_topk(spark, sf_dir)
    old = _multitable_old(spark, sf_dir)
    # collected-row comparison (exceptAll over these window plans trips
    # INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND in Spark 4.1.2; row sets are
    # 120 rows, so the driver-side compare is exact and cheap)
    rows_old = sorted(map(tuple, old.collect()))
    rows_new = sorted(map(tuple, new.collect()))
    out = {
        "value_mismatch_rows": sum(a != b for a, b in zip(rows_old, rows_new))
        + abs(len(rows_old) - len(rows_new))
    }
    out["timings"] = _time_interleaved({"old_dedup_first": old, "new_score_first": new}, reps)
    return out


PQ_WATCH = [
    "sim_ivfpq_topk",
    "sim_ivfpq_residual_np4_topk",
    "sim_pq_trained_rerank_topk",
    "sim_pq8_trained_rerank_topk",
]


def run_pqcols(spark, sf_dir, reps):
    import wikid_spark.queries.similarity as S
    from wikid_spark.registry import all_queries

    specs = all_queries()
    orig_blas = S._assign_blas
    orig_jvm = S._assign_jvm

    def blas_wide(vecs, cents, *a, **kw):
        kw.pop("out_cols", None)
        return orig_blas(vecs, cents, *a, **kw)

    def jvm_wide(vecs, cents, *a, **kw):
        kw.pop("out_cols", None)
        return orig_jvm(vecs, cents, *a, **kw)

    out = {}
    for name in PQ_WATCH:
        narrow = specs[name].fn(spark, sf_dir)
        S._assign_blas, S._assign_jvm = blas_wide, jvm_wide
        try:
            wide = specs[name].fn(spark, sf_dir)
        finally:
            S._assign_blas, S._assign_jvm = orig_blas, orig_jvm
        mism = narrow.exceptAll(wide).count() + wide.exceptAll(narrow).count()
        t = _time_interleaved({"narrow": narrow, "wide": wide}, reps)
        out[name] = {"value_mismatch_rows": mism, **t}
    return out


def run_assigncross(spark, sf_dir, reps):
    """VERDICT r16 #4: validate `_ASSIGN_JVM_MAX_ROW_CELLS` (2M) at this
    SF by forcing sim_kmeans_lloyd's assignment down each branch. At
    sf1 (20k rows x K=142 = 2.84M row-cells) the shipped constant
    routes to the BLAS cogroup kernel; at sf0.1 (2k x 45 = 90k) to the
    all-JVM projection."""
    import wikid_spark.queries.similarity as S
    from wikid_spark.registry import all_queries

    specs = all_queries()
    shipped = S._ASSIGN_JVM_MAX_ROW_CELLS
    out = {"shipped_constant": shipped}
    variants = {}
    plans = {}
    for label, const in (("force_jvm", 1 << 60), ("force_kernel", 0)):
        S._ASSIGN_JVM_MAX_ROW_CELLS = const
        try:
            df = specs["sim_kmeans_lloyd"].fn(spark, sf_dir)
        finally:
            S._ASSIGN_JVM_MAX_ROW_CELLS = shipped
        variants[label] = df
        plans[label] = (
            "FlatMapCoGroupsInPandas"
            in df._jdf.queryExecution().executedPlan().toString()
        ) or (
            "FlatMapCoGroupsInPandas"
            in df._jdf.queryExecution().analyzed().toString()
        )
    rows = {
        n: sorted(map(tuple, df.collect())) for n, df in variants.items()
    }
    out["value_mismatch"] = rows["force_jvm"] != rows["force_kernel"]
    out["kernel_in_plan"] = plans
    shipped_df = specs["sim_kmeans_lloyd"].fn(spark, sf_dir)
    out["shipped_routes_to_kernel"] = (
        "FlatMapCoGroupsInPandas"
        in shipped_df._jdf.queryExecution().analyzed().toString()
    )
    out["timings"] = _time_interleaved(variants, reps)
    return out


def run_bucketcross(spark, sf_dir, reps):
    """Validate `_BUCKET_KERNEL_MIN_ROW_TABLES` (20k) at this SF by
    forcing sim_lsh_multitable_topk's corpus bucket pass down each
    branch (sf1: 20k rows x 3 tables = 60k -> kernel; sf0.1: 6k ->
    HOF)."""
    import wikid_spark.queries.similarity as S
    from wikid_spark.registry import all_queries

    specs = all_queries()
    shipped = S._BUCKET_KERNEL_MIN_ROW_TABLES
    out = {"shipped_constant": shipped}
    variants = {}
    for label, const in (("force_hof", 1 << 60), ("force_kernel", 0)):
        S._BUCKET_KERNEL_MIN_ROW_TABLES = const
        try:
            variants[label] = specs["sim_lsh_multitable_topk"].fn(
                spark, sf_dir
            )
        finally:
            S._BUCKET_KERNEL_MIN_ROW_TABLES = shipped
    rows = {
        n: sorted(map(tuple, df.collect())) for n, df in variants.items()
    }
    out["value_mismatch"] = rows["force_hof"] != rows["force_kernel"]
    shipped_df = specs["sim_lsh_multitable_topk"].fn(spark, sf_dir)
    out["shipped_routes_to_kernel"] = (
        "pythonUDF" in shipped_df._jdf.queryExecution().analyzed().toString()
        or "ArrowEvalPython"
        in shipped_df._jdf.queryExecution().executedPlan().toString()
    )
    out["timings"] = _time_interleaved(variants, reps)
    return out


KERNEL_QUERIES = [
    "sim_kmeans_converged",
    "sim_pq_trained_rerank_topk",
    "sim_pq8_trained_rerank_topk",
    "sim_ivfpq_topk",
    "sim_ivfpq_residual_np4_topk",
    "sim_ivf_trained_derived_topk",
    "sim_ivf_refined_topk",
    "sim_kmeans_lloyd",
    "nd_semantic_dedup",
]


def run_kernels(spark, sf_dir, reps):
    """Kernel-slice A/B, interleaved within one session so host drift
    hits every variant equally (the c32 slice watch). Variants:

    * shipped  — derived kernel slices (`_kernel_slices`);
    * fixed64  — every cogrouped kernel pass at a fixed 64 slices
      (isolates the slice derivation).

    Each rep rebuilds the query plan with the ANN memo evicted, so
    BUILD cost (where the training work lives) is measured per rep:
    reported per query as build/exec/total p50s, plus the rows that
    differ between the variants (must be 0: results are
    slice-count-invariant)."""
    import statistics as st

    import wikid_spark.queries.similarity as S
    from wikid_spark.registry import all_queries

    specs = all_queries()
    orig_slices = S._kernel_slices

    def slices64(n_rows, k, cores):
        return 64

    variants = {"shipped": orig_slices, "fixed64": slices64}

    def _evict_memo():
        for key in list(S._ANN_MEMO):
            S._ann_memo_release(S._ANN_MEMO.pop(key))

    def _rows(q, slices):
        S._kernel_slices = slices
        try:
            _evict_memo()
            return sorted(map(tuple, specs[q].fn(spark, sf_dir).collect()))
        finally:
            S._kernel_slices = orig_slices

    out = {}
    runs = {
        q: {v: {"build": [], "exec": []} for v in variants}
        for q in KERNEL_QUERIES
    }
    # one warm pass per variant (codegen, python worker pool)
    for sl in variants.values():
        S._kernel_slices = sl
        try:
            _evict_memo()
            _noop(specs["sim_ivfpq_topk"].fn(spark, sf_dir))
        finally:
            S._kernel_slices = orig_slices
    order = list(variants)
    for rep in range(reps):
        # rotate the variant order per rep: block-position effects
        # (GC, block-manager churn) otherwise bias whichever variant
        # always runs first (measured ~1.6 s on a code-identical query)
        for v in order[rep % len(order):] + order[: rep % len(order)]:
            S._kernel_slices = variants[v]
            try:
                for q in KERNEL_QUERIES:
                    _evict_memo()
                    t0 = time.perf_counter()
                    df = specs[q].fn(spark, sf_dir)
                    tb = time.perf_counter() - t0
                    t0 = time.perf_counter()
                    _noop(df)
                    te = time.perf_counter() - t0
                    runs[q][v]["build"].append(tb)
                    runs[q][v]["exec"].append(te)
            finally:
                S._kernel_slices = orig_slices
    for q in KERNEL_QUERIES:
        a, b = _rows(q, orig_slices), _rows(q, slices64)
        out[q] = {
            "value_mismatch_rows": sum(x != y for x, y in zip(a, b))
            + abs(len(a) - len(b))
        }
        for v in variants:
            b = st.median(runs[q][v]["build"])
            e = st.median(runs[q][v]["exec"])
            out[q][v] = {
                "build_p50": round(b, 3),
                "exec_p50": round(e, 3),
                "total_p50": round(b + e, 3),
            }
    return out


def main() -> None:
    sub = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 7
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=f"ab_r17_{sub}")
    spark.sparkContext.setLogLevel("ERROR")
    _warm(spark, sf_dir)
    fn = {
        "multitable": run_multitable,
        "pqcols": run_pqcols,
        "assigncross": run_assigncross,
        "bucketcross": run_bucketcross,
        "kernels": run_kernels,
    }[sub]
    result = fn(spark, sf_dir, reps)
    print(json.dumps({"sub": sub, "sf_dir": sf_dir, "reps": reps, **result}))
    spark.stop()


if __name__ == "__main__":
    main()
