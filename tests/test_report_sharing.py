"""Round-11 recall-report serving-pass sharing: a depth-tuple call of
the serving tails (one shared candidate pass for several probe depths)
must be OUTPUT-IDENTICAL, per depth, to a one-depth call of the same
tail — the plan every registered query serves (the report's oracle
pins the end-to-end values; these pin the tails directly)."""

from __future__ import annotations

import wikid_spark.queries.similarity as S

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_trained_probe_multi_matches_single_depth_plans(spark):
    trained = S._trained_index(spark, SF)
    multi = S._trained_probe_topk(*trained, (1, 2, 4))
    assert set(multi) == {1, 2, 4}
    for np_ in (1, 2, 4):
        want = _rows(S._trained_probe_topk(*trained, (np_,))[np_])
        got = _rows(multi[np_])
        assert got == want and len(got) > 0, f"nprobe={np_}"


def test_residual_depth_tuple_matches_single_depth_plans(spark):
    idx = S._residual_index(spark, SF, spec=S.PQ4)
    multi = S._ivfpq_residual_plan(spark, SF, nprobes=(2, 4), idx=idx)
    assert set(multi) == {2, 4}
    for np_ in (2, 4):
        want = _rows(
            S._ivfpq_residual_plan(spark, SF, nprobes=(np_,), idx=idx)[np_]
        )
        got = _rows(multi[np_])
        assert got == want and len(got) > 0, f"nprobe={np_}"


def test_trained_index_memoized_per_corpus(spark, tmp_path):
    """Round-13: `_trained_index` trains once per (application, corpus
    fingerprint) — same session + same corpus returns the SAME frames;
    a content change (fingerprint) retrains; results are identical
    either way (training is deterministic)."""
    import shutil

    S._drop_ann_memos()
    first = S._trained_index(spark, SF)
    again = S._trained_index(spark, SF)
    assert all(a is b for a, b in zip(first, again))

    # identical corpus content at a DIFFERENT path/mtime -> different
    # fingerprint -> fresh (but value-identical) training
    alt = tmp_path / "alt_sf"
    alt.mkdir()
    for t in ("embeddings", "documents"):
        shutil.copy(f"{SF}/{t}.parquet", alt / f"{t}.parquet")
    other = S._trained_index(spark, str(alt))
    assert other[1] is not first[1]
    assert _rows(other[1]) == _rows(first[1])  # K-row centroids equal


def _persisted_rdd_ids(spark):
    return {i.id() for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def _ckpt_rdd_id(df):
    return df._jdf.queryExecution().analyzed().rdd().id()


def test_memo_evicts_and_unpersists_on_corpus_regeneration(spark, tmp_path):
    """Verdict r14 #3: a regenerated corpus (same path, new content
    signature) must drop the superseded memo GENERATION — trained AND
    residual halves together — free its localCheckpoint blocks, and
    retrain correctly."""
    import os
    import shutil

    S._drop_ann_memos()
    alt = tmp_path / "sf"
    alt.mkdir()
    for t in ("embeddings", "documents"):
        shutil.copy(f"{SF}/{t}.parquet", alt / f"{t}.parquet")

    first = S._trained_index(spark, str(alt))
    res = S._residual_index(spark, str(alt), spec=S.PQ4)
    cents_rid = _ckpt_rdd_id(first[1])
    cb_rid = _ckpt_rdd_id(res[2])
    live = _persisted_rdd_ids(spark)
    assert cents_rid in live and cb_rid in live

    # "regenerate": same content, new mtime -> new fingerprint
    p = alt / "embeddings.parquet"
    os.utime(p, ns=(os.stat(p).st_mtime_ns + 10**9,) * 2)

    second = S._trained_index(spark, str(alt))
    assert second[1] is not first[1]
    live = _persisted_rdd_ids(spark)
    assert cents_rid not in live, "superseded centroids still persisted"
    assert cb_rid not in live, "superseded codebooks still persisted"
    # the fresh generation trains to the same (content-deterministic)
    # centroids as an independent build of the same bytes
    assert _rows(second[1]) == _rows(S._trained_index(spark, SF)[1])
    # and the residual half re-enters cleanly after eviction
    res2 = S._residual_index(spark, str(alt), spec=S.PQ4)
    assert _rows(res2[2]) == _rows(S._residual_index(spark, SF, spec=S.PQ4)[2])


def test_memo_registry_is_lru_bounded(spark, tmp_path, monkeypatch):
    """The registry caps live groups; the evicted group's checkpoints
    are freed (ADVICE r13: unbounded memos pinned one generation per
    corpus for the life of a serving process)."""
    import shutil

    S._drop_ann_memos()
    monkeypatch.setattr(S, "_ANN_MEMO_MAX_GROUPS", 1)
    a = tmp_path / "a"
    a.mkdir()
    for t in ("embeddings", "documents"):
        shutil.copy(f"{SF}/{t}.parquet", a / f"{t}.parquet")
    first = S._trained_index(spark, str(a))
    rid = _ckpt_rdd_id(first[1])
    assert rid in _persisted_rdd_ids(spark)
    S._trained_index(spark, SF)  # second group -> evicts the first
    assert len(S._ANN_MEMO) == 1
    assert rid not in _persisted_rdd_ids(spark)
    S._drop_ann_memos()


def test_memo_key_is_session_not_application(spark):
    """ADVICE r13: two sessions of ONE application must not share
    memoized frames — plans and session confs are session-bound."""
    S._drop_ann_memos()
    first = S._trained_index(spark, SF)
    other = spark.newSession()
    assert other is not spark
    second = S._trained_index(other, SF)
    assert second[1] is not first[1]
    assert len(S._ANN_MEMO) == 2
    # same session still memo-hits
    assert S._trained_index(spark, SF)[1] is first[1]
    S._drop_ann_memos()
