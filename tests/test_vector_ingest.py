"""Streaming semantic (embedding) dedup: batch-twin equivalence,
read-your-own-writes evolution, replay determinism, partition-pruned
probes, and the shared crash-safe compaction — the vector-side mirror
of test_streaming's evolving-LSH-index suite."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from wikid_spark.streaming import vector_ingest as vi

DIM = 8


def _vec(base, eps=0.0, flip=None):
    v = [float(b) + eps for b in base]
    if flip is not None:
        v[flip] += 3.0
    return v


_A = [5.0, 0.0, 1.0, 0.0, 2.0, 0.0, 0.0, 1.0]
_B = [0.0, 4.0, 0.0, 2.0, 0.0, 1.0, 1.0, 0.0]
_C = [1.0, 1.0, 5.0, 0.0, 0.0, 2.0, 0.0, 0.0]


def _mkvecs(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )


def _corpus_rows():
    # three separated clusters x 4 members = 12 corpus vectors; K = 4
    rows = []
    for i, base in enumerate((_A, _B, _C)):
        for j in range(4):
            rows.append((10 * i + j, _vec(base, eps=0.01 * j)))
    return rows


def test_vector_batch_verdicts_and_evolution(spark, tmp_path):
    corpus = _mkvecs(spark, _corpus_rows())
    idx = str(tmp_path / "vidx")
    vi.persist_vector_index(corpus, idx)

    out = str(tmp_path / "verdicts")
    writer = vi.vector_verdict_batch_writer(spark, idx, out)

    # batch 0: a NEW cluster member (near nothing in the corpus) and a
    # near-dup of corpus vector 0
    novel = _vec([0.0] * 7 + [9.0])
    writer(_mkvecs(spark, [(100, novel), (101, _vec(_A, eps=0.005))]), 0)
    v0 = {
        r["vec_id"]: (r["verdict"], r["dup_of"])
        for r in spark.read.parquet(f"{out}/batch_id=0").collect()
    }
    assert v0[101] == ("drop", 0)
    assert v0[100] == ("keep", None)

    # batch 1: near-dup of the KEPT batch-0 vector (matches nothing in
    # the original corpus) — caught only via read-your-own-writes
    writer(_mkvecs(spark, [(200, _vec([0.0] * 7 + [9.0], eps=0.01))]), 1)
    v1 = {
        r["vec_id"]: (r["verdict"], r["dup_of"])
        for r in spark.read.parquet(f"{out}/batch_id=1").collect()
    }
    assert v1[200] == ("drop", 100)

    # replay batch 1: probe reads strictly batch_id < 1 — identical
    writer(_mkvecs(spark, [(200, _vec([0.0] * 7 + [9.0], eps=0.01))]), 1)
    v1b = {
        r["vec_id"]: (r["verdict"], r["dup_of"])
        for r in spark.read.parquet(f"{out}/batch_id=1").collect()
    }
    assert v1b == v1

    # batch-twin: the same decision from a fresh static index over
    # corpus ∪ batch-0-kept
    twin_dir = str(tmp_path / "vidx_twin")
    vi.persist_vector_index(
        corpus.unionByName(_mkvecs(spark, [(100, novel)])), twin_dir
    )
    twin = {
        r["vec_id"]: (r["verdict"], r["dup_of"])
        for r in vi.vector_batch_verdicts(
            spark,
            _mkvecs(spark, [(200, _vec([0.0] * 7 + [9.0], eps=0.01))]),
            twin_dir,
        ).collect()
    }
    # NOTE: the twin re-derives centroids over the grown corpus (13
    # rows -> same K=4 here), so cell geometry can differ from the
    # evolving index's frozen centroids; the VERDICT must agree.
    assert twin[200][0] == "drop"

    # read_vector_verdicts unions all batches
    allv = vi.read_vector_verdicts(spark, out)
    assert allv.count() == 3


def test_vector_probe_prunes_cell_partitions(spark, tmp_path):
    """The index scan must carry cent_id partition filters — probe
    cost follows the batch's touched cells, not the corpus."""
    import contextlib
    import io

    corpus = _mkvecs(spark, _corpus_rows())
    idx = str(tmp_path / "vidx")
    vi.persist_vector_index(corpus, idx)
    batch = _mkvecs(spark, [(500, _vec(_B, eps=0.003))])
    df = vi.vector_batch_verdicts(spark, batch, idx)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "cent_id" in plan
    got = {r["vec_id"]: r["verdict"] for r in df.collect()}
    assert got == {500: "drop"}


def test_vector_index_compaction_and_crash_heal(spark, tmp_path):
    import shutil

    corpus = _mkvecs(spark, _corpus_rows())
    idx = str(tmp_path / "vidx")
    vi.persist_vector_index(corpus, idx)
    out = str(tmp_path / "verdicts")
    writer = vi.vector_verdict_batch_writer(spark, idx, out)
    writer(_mkvecs(spark, [(100, _vec([0.0] * 7 + [9.0]))]), 0)

    def probe():
        b = _mkvecs(spark, [(300, _vec([0.0] * 7 + [9.0], eps=0.02))])
        return {
            r["vec_id"]: (r["verdict"], r["dup_of"])
            for r in vi.vector_batch_verdicts(spark, b, idx).collect()
        }

    baseline = probe()
    assert baseline[300] == ("drop", 100)

    # crash state: live gone mid-swap, .old holds the only copy
    os.rename(f"{idx}/cells", f"{idx}/cells.old")
    vi.compact_vector_index(spark, idx)
    assert probe() == baseline
    kids = os.listdir(f"{idx}/cells")
    assert [k for k in kids if k.startswith("batch_id=")] == ["batch_id=-1"]
    # cent_id directory partitioning survives the fold
    sub = os.listdir(f"{idx}/cells/batch_id=-1")
    assert any(k.startswith("cent_id=") for k in sub)

    # nothing restorable -> loud failure
    shutil.rmtree(f"{idx}/cells")
    with pytest.raises(FileNotFoundError, match="cells"):
        vi.compact_vector_index(spark, idx)


def test_vector_dedup_through_stream(spark, tmp_path):
    """End-to-end through a real file-source stream: the near-dup pair
    spans two micro-batches; exactly one survives, the other names it."""
    import time

    corpus = _mkvecs(spark, _corpus_rows())
    idx = str(tmp_path / "vidx")
    vi.persist_vector_index(corpus, idx)

    src = str(tmp_path / "incoming")
    os.makedirs(src)
    v_new = _vec([0.0] * 7 + [9.0])
    with open(f"{src}/f0.json", "w") as f:
        f.write(json.dumps({"vec_id": 700, "embedding": v_new}) + "\n")
    with open(f"{src}/f1.json", "w") as f:
        f.write(
            json.dumps(
                {"vec_id": 701, "embedding": _vec([0.0] * 7 + [9.0], eps=0.01)}
            )
            + "\n"
        )
    now = time.time()
    os.utime(f"{src}/f0.json", (now - 60, now - 60))

    stream = (
        spark.readStream.schema("vec_id bigint, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    out = str(tmp_path / "verdicts")
    q = (
        stream.writeStream.foreachBatch(
            vi.vector_verdict_batch_writer(spark, idx, out)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        r["vec_id"]: (r["verdict"], r["dup_of"])
        for r in vi.read_vector_verdicts(spark, out).collect()
    }
    assert len(got) == 2
    verdicts = sorted(v for v, _ in got.values())
    assert verdicts == ["drop", "keep"]
    dropped = next(d for d, (v, _) in got.items() if v == "drop")
    kept = next(d for d, (v, _) in got.items() if v == "keep")
    assert got[dropped][1] == kept


def test_vector_probe_semijoin_fallback_above_cap(spark, tmp_path, monkeypatch):
    """Above CELL_PUSHDOWN_MAX_IDS the probe must not inline an
    unbounded IN-literal list (unbounded plan + driver collect):
    it falls back to a broadcast semi-join on cent_id with identical
    verdicts. Force the cap to 0 and compare against the pushdown
    path row-for-row."""
    corpus = _mkvecs(spark, _corpus_rows())
    idx = str(tmp_path / "vidx")
    vi.persist_vector_index(corpus, idx)
    batch = _mkvecs(
        spark,
        [(500, _vec(_B, eps=0.003)), (501, _vec([0.0] * 7 + [9.0]))],
    )
    want = sorted(
        tuple(r) for r in vi.vector_batch_verdicts(spark, batch, idx).collect()
    )
    monkeypatch.setattr(vi, "CELL_PUSHDOWN_MAX_IDS", 0)
    got_df = vi.vector_batch_verdicts(spark, batch, idx)
    got = sorted(tuple(r) for r in got_df.collect())
    assert got == want and {r[3] for r in got} == {"drop", "keep"}


def test_persist_with_training_aligns_centroids(spark, tmp_path):
    """persist_vector_index(train_rounds=N) must store the
    Lloyd-trained centroids (reference: lloyd_train on the same seeds)
    and leave the serving contract intact: near-dups of corpus
    vectors still drop, novel vectors still keep, and the probe stays
    cent_id-partition-pruned."""
    from wikid_spark.queries.similarity import (
        _centroids,
        derived_k,
        lloyd_train,
    )

    corpus = _mkvecs(spark, _corpus_rows())
    idx = str(tmp_path / "vidx_trained")
    vi.persist_vector_index(corpus, idx, train_rounds=3)

    n = corpus.count()
    k = derived_k(n)
    want_cents, _ = lloyd_train(
        vi._qemb(corpus).select("vec_id", "qemb"),
        _centroids(corpus, k),
        max_rounds=3,
        dims=DIM,
        n_rows=n,
    )
    got = {
        r["cent_id"]: list(r["cemb"])
        for r in spark.read.parquet(f"{idx}/centroids").collect()
    }
    want = {r["cent_id"]: list(r["cemb"]) for r in want_cents.collect()}
    assert got == want

    # training moved at least one centroid off its raw seed vector
    seeds = {
        r["cent_id"]: list(r["cemb"])
        for r in _centroids(corpus, k).collect()
    }
    assert got != seeds

    batch = _mkvecs(
        spark,
        [(500, _vec(_A, eps=0.004)), (501, _vec([0.0] * 7 + [9.0]))],
    )
    verdicts = {
        r["vec_id"]: r["verdict"]
        for r in vi.vector_batch_verdicts(spark, batch, idx).collect()
    }
    assert verdicts == {500: "drop", 501: "keep"}
