"""Evolving FTS index (streaming/fts_ingest.py, round 15).

The authoritative assertion everywhere: BM25 served from the evolving
index as of batch n equals a FROM-SCRATCH `bm25_from_docs` over
exactly the documents ingested so far — the stream-vs-batch-twin
discipline the LSH and vector indexes certify with.
"""

from __future__ import annotations

import glob
import os
import re

import pyspark.sql.functions as F
import pytest

from wikid_spark.catalog import table
from wikid_spark.operators import fts as O
from wikid_spark.operators.fts import bm25_from_docs
from wikid_spark.streaming import fts_ingest as FI

SF = "/root/testdata/sf0.001"
TERMS = ["spark", "vector"]
CUTS = [300, 350, 420, 500]  # base = <300; three appended batches
# Small enough to spread the base's postings over many buckets (the
# shipped rule gives the sf0.001 base one bucket).
MANY_BUCKETS_PER_BUCKET = 1 << 8


def _persist_base(spark, idx, per_bucket=None):
    """Build the base; with ``per_bucket`` the base sizes its buckets
    under that rule, and everything after it runs under the shipped
    one, so later writers and readers only agree with the base by
    reading its recorded count."""
    with pytest.MonkeyPatch.context() as mp:
        if per_bucket is not None:
            mp.setattr(O, "FTS_POSTINGS_PER_BUCKET", per_bucket)
        FI.persist_streaming_fts_index(_docs(spark, hi=CUTS[0]), idx)


def _docs(spark, lo=None, hi=None):
    d = table(spark, SF, "documents").select("doc_id", "text")
    if lo is not None:
        d = d.filter(F.col("doc_id") >= lo)
    if hi is not None:
        d = d.filter(F.col("doc_id") < hi)
    return d


def _scores(df):
    return {
        r["doc"]: r["score"]
        for r in df.select("doc", F.round("score", 4).alias("score")).collect()
    }


def _rebuild_scores(spark, hi):
    return _scores(bm25_from_docs(_docs(spark, hi=hi), "doc_id", "text", TERMS))


@pytest.mark.parametrize(
    "per_bucket", [None, MANY_BUCKETS_PER_BUCKET], ids=["derived", "forced_many"]
)
def test_streamed_index_serves_equal_rebuild_per_batch(spark, tmp_path, per_bucket):
    idx = str(tmp_path / "fts_evolving")
    _persist_base(spark, idx, per_bucket)
    n = O.fts_layout_buckets(spark, idx)
    assert (n == 1) if per_bucket is None else (n > 1)
    w = FI.fts_index_batch_writer(spark, idx)
    for bid, (lo, hi) in enumerate(zip(CUTS, CUTS[1:])):
        # serve BEFORE the append: as_of_batch=bid sees batches < bid
        assert _scores(
            FI.bm25_streaming(spark, idx, TERMS, as_of_batch=bid)
        ) == _rebuild_scores(spark, lo)
        w(_docs(spark, lo, hi), bid)
        # the batch's postings land in the base's recorded buckets
        batch = spark.read.schema(O._POSTINGS_SCHEMA).parquet(
            f"{idx}/postings/batch_id={bid}"
        )
        assert batch.count() > 0
        assert batch.filter(
            F.col("tbucket") != O._term_bucket_col(F.col("term"), n)
        ).count() == 0
    assert O.fts_layout_buckets(spark, idx) == n
    assert _scores(FI.bm25_streaming(spark, idx, TERMS)) == _rebuild_scores(
        spark, CUTS[-1]
    )


def test_missing_layout_raises_on_append_and_serve(spark, tmp_path):
    idx = str(tmp_path / "fts_no_layout")
    _persist_base(spark, idx)
    os.remove(os.path.join(idx, "layout.json"))
    path = re.escape(f"{idx}/layout.json")
    with pytest.raises(ValueError, match=path):
        FI.append_docs_to_fts_index(_docs(spark, CUTS[0], CUTS[1]), idx, 0)
    with pytest.raises(ValueError, match=path):
        FI.bm25_streaming(spark, idx, TERMS)
    # the refused append wrote nothing
    assert not glob.glob(os.path.join(idx, "*", "batch_id=0"))


def test_replayed_append_is_idempotent(spark, tmp_path):
    idx = str(tmp_path / "fts_replay")
    FI.persist_streaming_fts_index(_docs(spark, hi=CUTS[0]), idx)
    FI.append_docs_to_fts_index(_docs(spark, CUTS[0], CUTS[1]), idx, 0)
    want = _scores(FI.bm25_streaming(spark, idx, TERMS))
    # at-least-once replay: the batch rewrites its own partitions
    FI.append_docs_to_fts_index(_docs(spark, CUTS[0], CUTS[1]), idx, 0)
    assert _scores(FI.bm25_streaming(spark, idx, TERMS)) == want
    assert want == _rebuild_scores(spark, CUTS[1])


def test_compaction_preserves_serving_and_restores_layout(spark, tmp_path):
    idx = str(tmp_path / "fts_compact")
    FI.persist_streaming_fts_index(_docs(spark, hi=CUTS[0]), idx)
    for bid, (lo, hi) in enumerate(zip(CUTS, CUTS[1:])):
        FI.append_docs_to_fts_index(_docs(spark, lo, hi), idx, bid)
    want = _scores(FI.bm25_streaming(spark, idx, TERMS))
    FI.compact_streaming_fts_index(spark, idx)
    # deltas folded into the single base partition
    assert glob.glob(os.path.join(idx, "postings", "batch_id=*")) == [
        os.path.join(idx, "postings", "batch_id=-1")
    ]
    # one file per bucket restored (serve-side footer-cost bound)
    for d in glob.glob(
        os.path.join(idx, "postings", "batch_id=-1", "tbucket=*")
    ):
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
    assert _scores(FI.bm25_streaming(spark, idx, TERMS)) == want
    # ...and the index keeps evolving after compaction
    FI.append_docs_to_fts_index(
        _docs(spark, 0, 0).limit(0), idx, 99
    )  # empty batch: no-op increments
    assert _scores(FI.bm25_streaming(spark, idx, TERMS)) == want


def test_streamed_probe_is_bucket_pruned(spark, tmp_path):
    idx = str(tmp_path / "fts_pruned")
    _persist_base(spark, idx, MANY_BUCKETS_PER_BUCKET)
    FI.append_docs_to_fts_index(_docs(spark, CUTS[0], CUTS[1]), idx, 0)
    n = O.fts_layout_buckets(spark, idx)
    expect = sorted({O._term_bucket_py(t, n) for t in TERMS})
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        # the serve's own plan: it must prune with the recorded count
        probe = FI.bm25_streaming(spark, idx, TERMS)
        plan = probe._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    found = re.findall(
        r"PartitionFilters: \[tbucket#\d+ IN(?:SET)? \(?([0-9, ]+)", plan
    )
    # postings and termstats scans both carry the bucket filter
    assert len(found) >= 2, plan[:4000]
    for g in found:
        assert sorted(int(x) for x in g.split(",")) == expect
    total = len(glob.glob(
        os.path.join(idx, "postings", "batch_id=-1", "tbucket=*")
    ))
    assert len(expect) < total
