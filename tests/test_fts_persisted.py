"""Persisted FTS serving index (VERDICT r14 #3).

The lexical twin of test_persisted_ann.py: (a) the build commits
term-bucketed postings + termstats + corpus stats under a _FTS_OK
marker, (b) persisted BM25 is value-identical to the in-plan path,
(c) the serve scan partition-prunes to EXACTLY the query terms'
buckets and pushes the term predicate into the parquet scan, and
(d) the content-keyed ensure is idempotent and invalidation-correct.
"""

from __future__ import annotations

import glob
import os
import re

import pyspark.sql.functions as F
import pytest

from wikid_spark.catalog import table
from wikid_spark.operators import fts as O

SF = "/root/testdata/sf0.001"
TERMS = ["spark", "vector"]
# Postings per bucket small enough to spread the sf0.001 corpus (~28k
# postings, one bucket under the shipped rule) over ~110 buckets, so
# the pruning tests have buckets to prune.
MANY_BUCKETS_PER_BUCKET = 1 << 8


def _build(spark, tmp_path):
    out = str(tmp_path / "fts_index")
    O.persist_fts_index(table(spark, SF, "documents"), "doc_id", "text", out)
    return out


def _build_many(spark, tmp_path):
    """A many-bucket index; the serve side then runs under the shipped
    rule, so it can only prune right by reading the recorded count."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(O, "FTS_POSTINGS_PER_BUCKET", MANY_BUCKETS_PER_BUCKET)
        return _build(spark, tmp_path)


def _recorded_buckets(spark, out):
    n = O.fts_layout_buckets(spark, out)
    return {O._term_bucket_py(t, n) for t in TERMS}


def test_fts_term_buckets_rule():
    per = O.FTS_POSTINGS_PER_BUCKET
    assert per == 1 << 22
    assert O.fts_term_buckets(0) == 1
    assert O.fts_term_buckets(1) == 1
    assert O.fts_term_buckets(per) == 1
    assert O.fts_term_buckets(per + 1) == 2
    assert O.fts_term_buckets(int(2e13)) == O.FTS_MAX_TERM_BUCKETS == 65536


def test_persisted_layout_records_derived_bucket_count(spark, tmp_path):
    """The sf0.001 corpus is one bucket under the shipped rule; the
    recorded count is what the build laid the directories out under."""
    import json

    out = _build(spark, tmp_path)
    with open(os.path.join(out, "layout.json")) as f:
        assert json.load(f) == {"term_buckets": 1}
    assert O.fts_layout_buckets(spark, out) == 1
    assert [os.path.basename(d) for d in
            glob.glob(os.path.join(out, "postings", "tbucket=*"))] == ["tbucket=0"]


def test_missing_layout_raises_on_serve(spark, tmp_path):
    out = _build(spark, tmp_path)
    os.remove(os.path.join(out, "layout.json"))
    for probe in (O.bm25_persisted, O.fts_persisted_postings,
                  O.fts_termstats, O.fts_impact_prefix):
        with pytest.raises(ValueError, match=re.escape(f"{out}/layout.json")):
            probe(spark, out, TERMS)


def test_persist_writes_committed_artifacts(spark, tmp_path):
    out = _build(spark, tmp_path)
    assert os.path.exists(os.path.join(out, O._FTS_OK))
    for part in ("postings", "termstats", "stats"):
        assert glob.glob(os.path.join(out, part, "**", "*.parquet"),
                         recursive=True), part
    # bucket layout: postings and termstats are tbucket-partitioned
    assert glob.glob(os.path.join(out, "postings", "tbucket=*"))
    assert glob.glob(os.path.join(out, "termstats", "tbucket=*"))
    # one file per bucket directory (the serve-side footer-cost bound)
    for d in glob.glob(os.path.join(out, "postings", "tbucket=*")):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d


def test_persisted_bm25_matches_in_plan_twin(spark, tmp_path):
    out = _build(spark, tmp_path)
    docs = table(spark, SF, "documents")
    inplan = {
        r["doc"]: r["score"]
        for r in O.bm25_from_docs(docs, "doc_id", "text", TERMS)
        .select("doc", F.round("score", 4).alias("score"))
        .collect()
    }
    persisted = {
        r["doc"]: r["score"]
        for r in O.bm25_persisted(spark, out, TERMS)
        .select("doc", F.round("score", 4).alias("score"))
        .collect()
    }
    assert inplan == persisted


def test_persisted_scan_is_bucket_pruned(spark, tmp_path):
    """The 100 TB IO claim: the postings scan carries a tbucket
    PartitionFilter naming EXACTLY the query terms' buckets (directory
    pruning) and the term equality reaches PushedFilters (row-group
    pruning within the bucket via the build-time term sort)."""
    out = _build_many(spark, tmp_path)
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        probe = O.fts_persisted_postings(spark, out, TERMS)
        plan = probe._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    m = re.search(
        r"PartitionFilters: \[tbucket#\d+ IN(?:SET)? \(?([0-9, ]+)", plan
    )
    assert m, plan[:4000]
    expect = _recorded_buckets(spark, out)
    assert {int(x) for x in m.group(1).split(",")} == expect
    total = len(glob.glob(os.path.join(out, "postings", "tbucket=*")))
    assert len(expect) < total
    # one file per bucket directory, at the many-bucket layout too
    for d in glob.glob(os.path.join(out, "postings", "tbucket=*")):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
    assert re.search(r"PushedFilters: \[.*In\(term", plan), plan[:4000]


def test_ensure_fts_index_caches_and_invalidates(spark, tmp_path, monkeypatch):
    import tempfile

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    d1 = O.ensure_fts_index(spark, SF)
    assert os.path.exists(os.path.join(d1, O._FTS_OK))
    assert O.ensure_fts_index(spark, SF) == d1  # idempotent reuse

    # a corpus with different content (same table name) keys elsewhere
    import shutil

    sf2 = tmp_path / "sf2"
    sf2.mkdir()
    for t in ("documents",):
        shutil.copy(f"{SF}/{t}.parquet", sf2 / f"{t}.parquet")
    os.utime(sf2 / "documents.parquet", (1, 1))  # different fingerprint
    d2 = O.ensure_fts_index(spark, str(sf2))
    assert d2 != d1


# ---------------------------------------------------------------------------
# Round 16: max-score/WAND state persisted with the index (VERDICT r15
# #1/#2) — ub_q6 really bounds every served contribution, topc/ really
# is the impact-ordered prefix, the exact-seed floors obey the
# lower-bound contract, and the pruned multi-anchor serving is
# value-identical to the unpruned r15 computation while emitting FAR
# fewer candidate rows than corpus x anchors on the closed-vocab corpus.
# ---------------------------------------------------------------------------


def _served_contribs(spark, out):
    """Per-(term, doc) quantized contributions recomputed exactly the
    way the multi-anchor serve does (same arithmetic as the build)."""
    posts = spark.read.schema(O._POSTINGS_SCHEMA).parquet(f"{out}/postings")
    stats = spark.read.parquet(f"{out}/stats")
    tf = posts.groupBy("term", "doc", "doc_len").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = (
        spark.read.schema(O._TERMSTATS_SCHEMA)
        .parquet(f"{out}/termstats")
        .select("term", "df")
    )
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "c_q6",
            F.round(O.bm25_contrib() * F.lit(1000000.0), 0).cast("long"),
        )
        .select("term", "doc", "c_q6")
    )


def test_termstats_ub_bounds_every_served_contribution(spark, tmp_path):
    out = _build(spark, tmp_path)
    ub = (
        spark.read.schema(O._TERMSTATS_SCHEMA)
        .parquet(f"{out}/termstats")
        .select("term", "ub_q6")
    )
    joined = _served_contribs(spark, out).join(ub, "term")
    row = joined.agg(
        F.max(F.col("c_q6") - F.col("ub_q6")).alias("worst"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    assert row["n"] > 0
    assert row["worst"] <= 0  # ub is a true upper bound
    # ... and it is TIGHT: per term, max c_q6 equals ub_q6
    per_term = (
        joined.groupBy("term", "ub_q6").agg(F.max("c_q6").alias("mx"))
        .filter(F.col("mx") != F.col("ub_q6"))
        .count()
    )
    assert per_term == 0


def test_topc_is_the_impact_ordered_prefix(spark, tmp_path):
    out = _build(spark, tmp_path)
    topc = spark.read.schema(O._TOPC_SCHEMA).parquet(f"{out}/topc")
    contribs = _served_contribs(spark, out)
    # per term: |topc| == min(df, FTS_IMPACT_PREFIX)
    sizes = (
        topc.groupBy("term").agg(F.count(F.lit(1)).alias("n_topc"))
        .join(
            contribs.groupBy("term").agg(F.count(F.lit(1)).alias("n_all")),
            "term",
        )
        .filter(
            F.col("n_topc")
            != F.least(F.col("n_all"), F.lit(O.FTS_IMPACT_PREFIX))
        )
        .count()
    )
    assert sizes == 0
    # prefix contents: no non-member contribution may beat a member
    # (the prefix holds the top-N by (c_q6 desc, doc asc))
    member_min = topc.groupBy("term").agg(F.min("c_q6").alias("floor_c"))
    leaked = (
        contribs.join(topc.select("term", "doc").withColumn("m", F.lit(1)),
                      ["term", "doc"], "left_anti")
        .join(member_min, "term")
        .filter(F.col("c_q6") > F.col("floor_c"))
        .count()
    )
    assert leaked == 0


def test_anchor_floors_contract():
    from wikid_spark.queries.fts import _anchor_floors

    # two anchors over a 3-term axis; seeds 10/11/12 with exact rows
    anchor_terms = {1: {0, 1}, 2: {2}}
    seed_tc = {
        10: [(0, 100), (1, 50)],   # anchor1 score 150, anchor2 0
        11: [(0, 70)],             # anchor1 score 70
        12: [(1, 20), (2, 5)],     # anchor1 20, anchor2 5
    }
    f = _anchor_floors(anchor_terms, seed_tc, k=2)
    assert f[1] == 70  # 2nd best of {150, 70, 20}
    assert f[2] is None  # only one seed overlaps anchor 2
    # self-exclusion: the anchor's own doc never seeds its floor
    f = _anchor_floors({10: {0, 1}}, seed_tc, k=2)
    assert f[10] == 20  # {11: 70, 12: 20} — doc 10 excluded
    # fewer than k seeds anywhere -> None, never a bogus floor
    assert _anchor_floors({5: {0}}, {}, k=2) == {5: None}


def test_multi_anchor_prune_is_value_identical_and_bounded(spark):
    from wikid_spark.catalog import table as _t
    from wikid_spark.queries.fts import (
        _hybrid_rrf_fuse_multi,
        _multi_anchor_bm,
    )

    pruned = _multi_anchor_bm(spark, SF, persisted=False, prune=True)
    unpruned = _multi_anchor_bm(spark, SF, persisted=False, prune=False)
    n_docs = _t(spark, SF, "documents").count()
    n_anchors = unpruned.select("query_id").distinct().count()
    cp, cu = pruned.count(), unpruned.count()
    # the VERDICT r15 #1 counter: candidate rows strictly below
    # corpus x anchors on the closed-vocab corpus (where the unpruned
    # path emitted essentially every pair), and well below it
    assert cp < cu
    assert cp < n_docs * n_anchors
    assert cp <= 25 * n_anchors  # exact floors leave ~top-20 + ties
    # value identity of what the fusion tail consumes — and of the
    # final fused output
    got = sorted(
        map(tuple, _hybrid_rrf_fuse_multi(spark, SF, pruned).collect())
    )
    want = sorted(
        map(tuple, _hybrid_rrf_fuse_multi(spark, SF, unpruned).collect())
    )
    assert got == want


def test_multi_anchor_persisted_equals_inplan(spark):
    from wikid_spark.queries.fts import (
        fts_hybrid_rrf_multi,
        fts_hybrid_rrf_multi_persisted,
    )

    a = sorted(map(tuple, fts_hybrid_rrf_multi(spark, SF).collect()))
    b = sorted(
        map(tuple, fts_hybrid_rrf_multi_persisted(spark, SF).collect())
    )
    assert a == b and len(a) > 0


def test_max_score_probe_scans_are_bucket_pruned(spark, tmp_path):
    """VERDICT r15 #2: PartitionFilters pinned on BOTH max-score index
    scans (termstats ub probe + topc floor-seed probe)."""
    out = _build_many(spark, tmp_path)
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        plans = {
            name: df._jdf.queryExecution().executedPlan().toString()
            for name, df in (
                ("termstats", O.fts_termstats(spark, out, TERMS)),
                ("topc", O.fts_impact_prefix(spark, out, TERMS)),
            )
        }
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    expect = _recorded_buckets(spark, out)
    for name, plan in plans.items():
        m = re.search(
            r"PartitionFilters: \[tbucket#\d+ IN(?:SET)? \(?([0-9, ]+)", plan
        )
        assert m, (name, plan[:4000])
        assert {int(x) for x in m.group(1).split(",")} == expect, name
        assert re.search(r"PushedFilters: \[.*In\(term", plan), name
