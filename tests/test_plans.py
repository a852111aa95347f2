"""Physical-plan regression tests: pin the plan SHAPE, not just results.

"Correct but wrong plan" is the failure mode these catch — a lost
broadcast, a filter that stops reaching the parquet scan, or a top-k
that becomes a global sort would all still hash-match the oracle while
being 100x slower at scale. `.explain` output is part of the contract.
"""

from __future__ import annotations

import io
import contextlib

import pytest

from wikid_spark.registry import all_queries

SF = "/root/testdata/sf0.01"


def _plan(spark, name: str) -> str:
    df = all_queries()[name].fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q01_filters_reach_parquet_scan(spark):
    plan = _plan(spark, "q01_scan_filter_project")
    assert "PushedFilters" in plan
    # both predicates push down (returnflag equality + shipdate range)
    assert "EqualTo(l_returnflag,R)" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    # projection pruned to the 3 output + 2 filter columns
    assert "l_comment" not in plan


def test_q04_flagship_preaggregates_before_join(spark):
    plan = _plan(spark, "q04_profile_join_agg")
    # orders pre-aggregate per custkey with a MAP-SIDE partial phase
    # before any exchange — the shuffle moves per-customer buffers,
    # never joined (order × customer) rows
    assert "partial" in plan.lower() or "ObjectHashAggregate" in plan
    # the 25-row nation dim broadcasts; the customer⋈orders join must
    # NOT depend on broadcasting a table that is huge at scale, so
    # exactly one broadcast join in the plan tree
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q07_dim_filter_pushed_and_broadcast(spark):
    plan = _plan(spark, "q07_broadcast_dim_join")
    assert "BroadcastHashJoin" in plan
    assert "EqualTo(p_brand,Brand#1)" in plan


def test_q13_topk_is_take_ordered(spark):
    plan = _plan(spark, "q13_global_topk")
    assert "TakeOrderedAndProject" in plan
    # a global Sort would be the scale bug this test exists to catch
    assert "rangepartitioning" not in plan


def test_fts_search_scans_prune_columns(spark):
    plan = _plan(spark, "fts_search_and")
    # only doc_id + text read from the corpus
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_embedding_neardup_is_distributed(spark):
    """The exact near-dup query must not materialize the table on the
    driver (the round-1 version collect()ed it at build time) and the
    compute must be a grouped-pandas op, not a nested-loop join. No
    registered query may collect() corpus-scale data — a driver
    bottleneck at scale regardless of correctness. The ONLY sanctioned
    exception is the iterative driver-fixpoint pattern (Lloyd, BPE:
    one K-row/scalar result per round), and every such call site must
    carry a `# k-bounded collect` annotation on the same line so this
    guard — and a reviewer — sees exactly which collects were argued
    bounded."""
    import inspect

    import wikid_spark.queries as queries_pkg

    pkg_dir = inspect.getfile(queries_pkg).rsplit("/", 1)[0]
    import pathlib

    offenders = [
        f"{p.name}:{i + 1}"
        for p in pathlib.Path(pkg_dir).glob("*.py")
        for i, line in enumerate(p.read_text().splitlines())
        if ".collect()" in line and "# k-bounded collect" not in line
    ]
    assert offenders == [], f"unannotated collect() in registered queries: {offenders}"

    plan = _plan(spark, "nd_embedding_neardup")
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q29_range_join_is_equi_not_nested_loop(spark):
    """The interval-explode rewrite exists to avoid the nested-loop the
    naive theta join would plan; regressing to one is the scale bug."""
    plan = _plan(spark, "q29_range_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pp_decontaminate_broadcasts_benchmark_spans(spark):
    plan = _plan(spark, "pp_decontaminate")
    assert "BroadcastHashJoin" in plan
    # the corpus-side span stream must NOT be shuffled for the probe
    assert "SortMergeJoin" not in plan


def test_pp_map_only_ops_have_no_exchange_before_sink(spark):
    """Chunking and the quality gate are per-row projections; any
    KEY-redistribution Exchange in their plans means a shuffle crept
    into a map-only op. Allowed: the final presentation orderBy's
    rangepartitioning, and the catalog's deliberate roundrobin
    compute-spread of the documents scan (catalog.table — a no-op at
    real scale, SCALE.md round 13)."""
    for name in ("pp_chunking", "pp_gopher_filter"):
        plan = _plan(spark, name)
        body = plan.split("AdaptiveSparkPlan")[0]
        assert "hashpartitioning" not in body, name
        assert body.count("rangepartitioning") <= 1, name
        # exactly the ONE deliberate catalog spread may round-robin;
        # a second means an accidental shuffle crept in (ADVICE r13)
        assert body.lower().count("roundrobin") <= 1, name


def test_lsh_verified_pairs_broadcasts_candidates(spark):
    """The two-stage dedup flow must probe the candidate pair set
    map-side when the measured pair count is small (it is, on the test
    corpora): an explicit broadcast of the LSH candidates (and the
    doc_b semi-filter), never a corpus-wide shuffle on the pair key."""
    plan = _plan(spark, "nd_lsh_verified_pairs")
    assert plan.count("BroadcastHashJoin") >= 2


def test_lsh_verified_pairs_unhinted_above_threshold(spark, monkeypatch):
    """Above PAIR_BROADCAST_MAX_ROWS (a high-dup-rate corpus) the hint
    must be omitted — results identical, strategy left to AQE."""
    from wikid_spark.queries import dedup

    hinted = all_queries()["nd_lsh_verified_pairs"].fn(spark, SF).collect()
    monkeypatch.setattr(dedup, "PAIR_BROADCAST_MAX_ROWS", 0)
    got = all_queries()["nd_lsh_verified_pairs"].fn(spark, SF).collect()
    assert got == hinted and len(got) > 0


def test_sim_ivf_assignment_broadcasts_centroids(spark):
    plan = _plan(spark, "sim_ivf_cells")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # argmin must partial-aggregate map-side before the vec_id shuffle
    assert "partial_min_by" in plan or "partial" in plan.lower()
    # constant-K centroid sampling: a global top-K (K rows cross the
    # wire), NOT a filter whose output grows with the corpus — the
    # corpus-dependent centroid count was the round-2 scale bug
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_sim_ivf_centroid_count_is_corpus_independent():
    """The index width is a config constant, not a function of n."""
    from wikid_spark.queries import similarity

    assert isinstance(similarity.N_CENTROIDS, int)
    assert not hasattr(similarity, "CENT_EVERY")


def test_stratified_sample_rank_filter_pushes_into_sort(spark):
    """row_number() <= K must become WindowGroupLimit: each stratum is
    truncated to K rows DURING the window sort — without it every
    stratum materializes full ranks before filtering, which at corpus
    scale is the difference between K×|strata| and |corpus| rows."""
    plan = _plan(spark, "pp_stratified_sample")
    assert "WindowGroupLimit" in plan


def test_q36_dims_broadcast(spark):
    """supplier/nation/region ride explicit broadcasts; no join in the
    6-way tree may fall back to a nested loop."""
    plan = _plan(spark, "q36_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q43_unpivot_is_single_pass_expand(spark):
    """Spark's unpivot compiles to one Expand node — rows×4 output in a
    single pass; a join- or union-based expansion would rescan lineitem
    per measure."""
    plan = _plan(spark, "q43_unpivot")
    assert "Expand" in plan
    # one scan of lineitem, not one per measure (formatted explain
    # details each scan once as "Location: ...")
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_incremental_dedup_broadcasts_batch_side(spark):
    """nd_incremental_dedup's scale contract: the batch band table and
    the candidate pair set BROADCAST into the corpus probes — the
    corpus-sized sides never shuffle on the probe keys. The registered
    query materializes its bounded stages (localCheckpoint), which
    hides the per-stage joins from the tail explain, so the contract
    is asserted on the SAME plan composed with an identity cut — the
    broadcasts are explicit hints, identical in both forms."""
    import io
    import contextlib

    from wikid_spark.queries.dedup import _incremental_dedup_plan

    df = _incremental_dedup_plan(spark, SF, cut=lambda d: d)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # batch-bands x corpus-bands probe, candidate x shingle probe, and
    # the old-docs semi filter all broadcast
    assert plan.count("BroadcastHashJoin") >= 3
    # and the registered (checkpointed) form's tail keeps a contract of
    # its own (ADVICE r16): exactly one parquet scan (the batch id
    # list) survives, the batch-bounded verdict join is an explicit
    # broadcast, and no join may regress to a corpus-keyed shuffle
    # between the checkpoints
    tail = _plan(spark, "nd_incremental_dedup")
    assert tail.count("Location: InMemoryFileIndex") == 1
    assert "SortMergeJoin" not in tail
    assert "BroadcastHashJoin" in tail


def test_training_corpus_dedup_droplist_broadcasts(spark):
    """pp_training_corpus: the drop-list broadcast is SIZE-AWARE — on
    the test corpora the measured list sits under the threshold, so the
    anti-join must be a BroadcastHashJoin; the exact-dedup keeper must
    be a window rank, not a dropDuplicates (deterministic keeper)."""
    plan = _plan(spark, "pp_training_corpus")
    assert "BroadcastHashJoin" in plan
    assert "LeftAnti" in plan
    assert "row_number" in plan.lower() or "RunningWindowFunction" in plan


def test_training_corpus_droplist_unhinted_above_threshold(spark, monkeypatch):
    """Above DROP_BROADCAST_MAX_ROWS (a high-dup-rate crawl) the hint
    must be OMITTED — the anti-join stays correct and the strategy is
    AQE's choice, not a pinned corpus-scale broadcast. Forced here by
    dropping the threshold to zero; results must match the hinted run."""
    from wikid_spark.queries import pipeline

    fn = all_queries()["pp_training_corpus"].fn
    hinted = fn(spark, SF).collect()
    monkeypatch.setattr(pipeline, "DROP_BROADCAST_MAX_ROWS", 0)
    df = fn(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    assert "LeftAnti" in buf.getvalue()
    assert df.collect() == hinted


def test_ivf_assignment_is_projected_argmin(spark):
    """Centroid assignment must never expand or aggregate the corpus:
    either the K centroids broadcast as ONE array row with argmin in
    the projection (the nprobe-2 rank path), or they replicate to the
    corpus slices of the cogrouped BLAS kernel (broadcast range join).
    The regressions this pins: carrying the embedding array through a
    groupBy agg buffer forces SortAggregate (the ~50x fallback), and
    an n×K relational join expansion shuffles corpus-scale rows
    (CartesianProduct)."""
    for name in ("sim_ivf_cells", "sim_kmeans_lloyd", "nd_semantic_dedup",
                 "sim_ivf_ann_topk_nprobe2", "sim_ivf_refined_topk"):
        plan = _plan(spark, name)
        assert "SortAggregate" not in plan, name
        assert "CartesianProduct" not in plan, name
        # the one-row centroid-array side arrives by broadcast
        assert "BroadcastExchange" in plan, name


def test_semantic_dedup_one_corpus_shuffle(spark):
    """The only corpus shuffle is the groupBy(cent_id) feeding the
    per-cell BLAS kernel; the pairwise work happens inside
    FlatMapGroupsInPandas, never as a relational self-join."""
    plan = _plan(spark, "nd_semantic_dedup")
    assert "FlatMapGroupsInPandas" in plan
    assert "SortMergeJoin" not in plan


def test_lm_perplexity_single_bigram_extraction(spark):
    """The trained bigram MODEL (c12 — bigram-type-bounded counts,
    never corpus rows) materializes at build (VERDICT r16 #5), so the
    SERVING plan runs the per-doc bigram extraction exactly once: one
    doc_id+text scan (doc_bg → scoring), one text-only scan (V's
    unigram pass), and the model tables fold from the checkpointed RDD
    with no corpus access. Before the cut the executed plan re-ran the
    bigram chain per model consumer that AQE stage-reuse missed —
    6 corpus scans / 16 exchanges per exec at sf0.1; now 2 / 8."""
    from wikid_spark.registry import all_queries

    df = all_queries()["tx_lm_perplexity"].fn(spark, SF)
    plan = _plan(spark, "tx_lm_perplexity")
    # pruning: every corpus scan reads at most doc_id + text
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    assert "ReadSchema: struct<text:string>" in plan
    # the model rides the checkpoint cut; c1 derives from it
    assert "Scan ExistingRDD" in plan
    # exactly two corpus scans in the serving plan: the bigram chain
    # (doc_id+text) and the unigram V pass (text)
    assert plan.count("Location: InMemoryFileIndex") == 2
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final


def test_multi_assignment_matches_declarative_ranks(spark):
    """_assignments_multi's stable-argsort top-2 must equal the
    declarative (dist, cent_id) preference order (_cell_ranks) on
    random vectors — cross-validating the BLAS kernel's tie-break
    against the pure-Catalyst spec."""
    import random

    import pyspark.sql.functions as F

    from wikid_spark.queries.similarity import (
        _assignments_multi,
        _cell_ranks,
        _cent_array,
        _centroids,
        quantize_embedding,
    )

    rng = random.Random(42)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(300)
    ]
    # force distance ties: clone some vectors
    rows += [(1000 + i, rows[i][1]) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {
        (r["vec_id"], r["cent_rank"]): r["cent_id"]
        for r in _assignments_multi(emb, n_rows=len(rows), k=9, top_m=2).collect()
    }

    cents = _centroids(emb, k=9)
    qemb = emb.select(
        "vec_id", quantize_embedding(F.col("embedding")).alias("qemb")
    )
    ranked = qemb.crossJoin(F.broadcast(_cent_array(cents))).select(
        "vec_id", _cell_ranks(F.col("qemb"), F.col("cs")).alias("ranks")
    )
    want = {}
    for r in ranked.collect():
        for j, s in enumerate(r["ranks"][:2], start=1):
            want[(r["vec_id"], j)] = s["cent_id"]
    assert got == want and len(got) == 2 * 320


def test_multitable_lsh_dedup_exchange_is_thin(spark):
    """sim_lsh_multitable_topk (round-17, VERDICT r16 #8): the cheap
    64-dim cosine evaluates map-side BELOW the (query_id, neighbor_id)
    dedup aggregate, so the dedup exchange carries only
    (query_id, neighbor_id, sim) — not the two 64-dim vectors
    (~30x the bytes per candidate row). In the top-down optimized-plan
    print the dedup Aggregate must sit above the bucket Join, the
    cosine zip_with (the only round()-wrapped one) must sit BELOW the
    Aggregate (pre-exchange), and no embedding column may survive into
    the Aggregate's output."""
    df = all_queries()["sim_lsh_multitable_topk"].fn(spark, SF)
    lines = (
        df._jdf.queryExecution().optimizedPlan().toString().splitlines()
    )
    agg_idx = [
        i
        for i, ln in enumerate(lines)
        if "Aggregate [query_id" in ln and "first(" in ln
    ]
    assert agg_idx, "pair-dedup Aggregate missing from plan"
    join_idx = [i for i, ln in enumerate(lines) if "Join Inner" in ln]
    assert join_idx and agg_idx[0] < join_idx[0], "dedup must be above join"
    # the cosine is the only zip_with wrapped in round(); the bucket
    # hash expressions below the join also use zip_with but never round
    cos_idx = [
        i
        for i, ln in enumerate(lines)
        if "zip_with" in ln and "round(" in ln
    ]
    assert cos_idx, "cosine projection missing from plan"
    assert min(cos_idx) > agg_idx[0], (
        "cosine evaluated above the pair dedup — the dedup exchange "
        "would carry both 64-dim vectors instead of one double"
    )
    # the aggregate's state is the scored pair only — vectors stay
    # below the exchange
    assert "first(embedding" not in lines[agg_idx[0]]
    assert "first(qe" not in lines[agg_idx[0]]


def test_incremental_dedup_plan_is_cut_at_the_band_table(spark):
    """nd_incremental_dedup's reuse cuts must stay CHECKPOINT cuts
    (plan truncated to a LogicalRDD), not persist() marks: the band
    subtree is referenced ~8x downstream, and with persist Catalyst
    re-analyzes the exponentially duplicated tree on every action —
    measured 4.1-4.2 s/run vs 1.6 s checkpointed at sf0.1, pure
    driver-side planning (ADVICE r13 follow-up, round 14: lazy forms
    investigated and rejected with measurements — see the docstring
    at the bands checkpoint)."""
    df = all_queries()["nd_incremental_dedup"].fn(spark, SF)
    plan = df._jdf.queryExecution().analyzed().toString()
    # the verified-pair cut truncates the final plan to a LogicalRDD
    # (the band/shingle cuts sit BEHIND it — round-17 layered cuts),
    # and the full minhash expression tree does NOT reappear downstream
    assert plan.count("LogicalRDD") >= 1
    assert "md5" not in plan  # signature kernel lives behind the cut


def test_hybrid_rrf_topk_plan_shape(spark):
    """Both retrieval lists must end in TakeOrderedAndProject (top-20
    rows cross the wire, never a global sort of the candidate sets),
    the dense side's query vector must broadcast, and the ≤20-row
    fusion join must never shuffle corpus-scale data."""
    plan = _plan(spark, "fts_hybrid_rrf_topk")
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_hybrid_multi_is_join_shaped_not_cartesian(spark):
    """The multi-anchor hybrid's scale claims, plan-pinned: no
    CartesianProduct, no SortMergeJoin (every small side — anchor
    terms, df, corpus stats, anchors — broadcasts), the BM25
    contribution is the exact-integer fixed-point column (c_q6),
    and the per-anchor scoring is the Arrow matmul kernel
    (MapInPandas), not the anchors x postings row-expansion join."""
    plan = _plan(spark, "fts_hybrid_rrf_multi")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "c_q6" in plan  # fixed-point quantization feeds the kernel
    assert "MapInPandas" in plan  # exact-int64 matmul scorer
    # The WAND-pruned path (round 16) eagerly checkpoints tfc — the
    # floor seeding reads it twice — so the serving plan starts from
    # the checkpoint RDD and the upstream joins run at BUILD time.
    # The broadcast-join-shape claim is therefore pinned on the
    # UNPRUNED construction, where the full lineage is visible; the
    # pruned twin is value-identical by the shared oracle.
    import contextlib
    import io

    from wikid_spark.queries.fts import _multi_anchor_bm

    bm = _multi_anchor_bm(spark, SF, persisted=False, prune=False)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        bm.explain("formatted")
    uplan = buf.getvalue()
    assert "BroadcastHashJoin" in uplan
    assert "CartesianProduct" not in uplan
    assert "SortMergeJoin" not in uplan


def test_hard_neg_ann_probe_is_broadcast_join(spark):
    """Candidate generation = index rows joined to BROADCAST probes;
    the label anti-predicate rides the same join (no extra corpus
    pass or shuffle join to attach labels)."""
    plan = _plan(spark, "sim_hard_negatives_ann_topk")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_mmr_ann_pool_comes_from_index_join(spark):
    """The ANN-candidate MMR pool is a broadcast probe join (the
    trained-index serve shape), not a corpus cross score. The
    registered query's FINAL frame is the driver-greedy's
    createDataFrame (ExistingRDD — the corpus work happens at build
    time), so the pin targets `_mmr_ann_pool`, the pool plan both ANN
    MMR queries execute."""
    import io
    import contextlib

    import pyspark.sql.functions as F

    import wikid_spark.queries.similarity as S

    qemb, cents, a2, k = S._trained_index(spark, SF)
    probes = S._assign_blas(
        S._sample_filter(qemb),
        cents,
        top_m=2,
        n_rows=S._QUERY_SAMPLE_MAX_ROWS,
        k=k,
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qe"),
        F.col("cent_id").alias("pcell"),
    )
    cand = S._mmr_ann_pool(a2, probes)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        cand.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_probe_ranks_routes_big_k_to_blas_kernel(spark):
    """`_probe_ranks` sizes the pass at the query-sample budget and the
    caller's explicit ``k``, and routes by the one assignment crossover
    (`_assign_in_jvm`): up to `_ASSIGN_JVM_MAX_ROW_CELLS` row·cells the
    all-JVM projection (no Python node), one centroid row past it the
    cogrouped BLAS kernel (FlatMapCoGroupsInPandas)."""
    import pyspark.sql.functions as F

    import wikid_spark.queries.similarity as S

    emb = spark.range(20).select(
        F.col("id").alias("vec_id"),
        F.array(*[(F.col("id") % 7).cast("double") for _ in range(4)]).alias(
            "embedding"
        ),
    )
    sample = emb.select(
        "vec_id",
        "embedding",
        S.quantize_embedding(F.col("embedding")).alias("qemb"),
    )
    cents = emb.select(
        F.col("vec_id").alias("cent_id"),
        S.quantize_embedding(F.col("embedding")).alias("cemb"),
    )

    def plan_of(df):
        return df._jdf.queryExecution().analyzed().toString()

    k_max = S._ASSIGN_JVM_MAX_ROW_CELLS // S._QUERY_SAMPLE_MAX_ROWS
    assert "FlatMapCoGroupsInPandas" not in plan_of(
        S._probe_ranks(sample, cents, k=k_max)
    )
    assert "FlatMapCoGroupsInPandas" in plan_of(
        S._probe_ranks(sample, cents, k=k_max + 1)
    )
    # the sizing is the query budget, which the shared sample filter
    # keeps exactly at any corpus size
    assert (
        S._sample_filter(spark.range(0, 10_000), "id").count()
        == S._QUERY_SAMPLE_MAX_ROWS
    )


def test_kernel_entry_points_require_sizing():
    """Every kernel entry point takes its sizing as required
    keyword-only ints — no default, so no call site can silently skip
    the slice bound or the routing rule."""
    import inspect

    import wikid_spark.queries.similarity as S

    sizing = {
        S._assign_blas: ("n_rows", "k"),
        S._assign_partials: ("n_rows", "k"),
        S._lloyd_round: ("n_rows", "k"),
        S._probe_ranks: ("k",),  # rows: the query-sample budget
        S._pq_encode: ("n_rows",),  # k: spec.codes
        S._pq_train: ("n_rows",),
        S.lloyd_train: ("n_rows",),  # k: the loop's own cell count
    }
    for fn, names in sizing.items():
        params = inspect.signature(fn).parameters
        assert {"n_rows", "k"} & set(params) == set(names), fn.__name__
        for p in names:
            assert params[p].default is inspect.Parameter.empty, (fn, p)
            assert params[p].kind is inspect.Parameter.KEYWORD_ONLY, (fn, p)


def test_kernel_slices_derivation():
    """Round-17 (guide §2.5): cogrouped-kernel slice counts derive from
    the pass's rows and K — compute-proportional core fill, with
    Arrow-batch and distance-matrix upper bounds."""
    from wikid_spark.queries.similarity import (
        _KERNEL_MAX_SLICE_CELLS,
        _kernel_slices,
    )

    # a <=40-row probe sample is ONE slice, not 64
    assert _kernel_slices(40, 142, cores=32) == 1
    # light compute at tiny corpora stays near-serial (task overhead
    # beats the parallel gain below ~32k cells/slice)
    assert _kernel_slices(2_000, 16, cores=32) <= 2
    # heavy compute fills the cores
    assert _kernel_slices(20_000, 256, cores=32) == 32
    # past the core count only for Arrow-batch or memory bounds:
    # 10^9 rows x K=31623 is memory-bound at ~10^6 slices, each
    # holding <= _KERNEL_MAX_SLICE_CELLS distance-matrix cells
    n, k = 1_000_000_000, 31_623
    s = _kernel_slices(n, k, cores=32)
    assert s > 900_000 and (n * k) / s <= _KERNEL_MAX_SLICE_CELLS


def test_pq_train_single_final_checkpoint(spark):
    """Round-17 `_pq_train` fold: the training rounds stay one lazy
    chain and only the FINAL codebook materializes — the returned
    frame's whole plan is the checkpoint (LogicalRDD root), and its
    values equal the r16 per-round-checkpoint trainer's."""
    import pyspark.sql.functions as F

    import wikid_spark.queries.similarity as S
    from wikid_spark.catalog import table as cat_table

    emb = cat_table(spark, "/root/testdata/sf0.001", "embeddings")
    qemb = emb.select(
        "vec_id", S.quantize_embedding(F.col("embedding")).alias("qemb")
    )
    cb0 = S._pq_codebooks(emb, S.PQ4)
    cbt = S._pq_train(qemb, cb0, S.PQ_TRAIN_ROUNDS, S.PQ4, n_rows=500)
    plan = cbt._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LogicalRDD"
    # value identity vs the per-round-checkpoint legacy trainer
    legacy = cb0
    for _ in range(S.PQ_TRAIN_ROUNDS):
        legacy = S._pq_lloyd_round(qemb, legacy, S.PQ4, n_rows=500).localCheckpoint(
            eager=True
        )
    got = sorted(map(tuple, cbt.collect()))
    want = sorted(map(tuple, legacy.collect()))
    assert got == want
