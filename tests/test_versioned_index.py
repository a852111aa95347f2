"""Versioned / pointer persisted-index layout (round 14).

The one promotion protocol for persisted indexes, safe on object
stores where a directory rename is a copy: immutable content-keyed
version dirs + a single-object CURRENT pointer, where promotion is one
PUT, the distortion trigger measures drift without touching the root,
crashed publishers leave only safe states, old versions survive for
in-flight serves, GC keeps current+previous, and refreshes run under
the single-writer lease.
"""

from __future__ import annotations

import os
import shutil
import time

import pytest

import wikid_spark.queries.similarity as S
from wikid_spark.fsutil import _fs_write_text

SF = "/root/testdata/sf0.001"
SF2 = "/root/testdata/sf0.01"


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_publish_and_resolve_bootstrap(spark, tmp_path):
    root = str(tmp_path / "annv")
    pub = S.publish_index_version(spark, SF, root)
    assert pub["built"] is True and pub["previous"] is None
    vdir = S.resolve_current_index(spark, root)
    assert vdir.endswith(pub["version"])
    # identical serving to a plain persist build of the same corpus
    plain = str(tmp_path / "plain")
    S.persist_ann_index(spark, SF, plain)
    assert _rows(S.serve_persisted_topk(spark, SF, vdir, nprobe=4)) == _rows(
        S.serve_persisted_topk(spark, SF, plain, nprobe=4)
    )
    # re-publish of unchanged corpus bytes: no rebuild, pointer no-op
    pub2 = S.publish_index_version(spark, SF, root)
    assert pub2["built"] is False and pub2["version"] == pub["version"]


def test_refresh_versioned_flips_pointer_and_keeps_previous(spark, tmp_path):
    root = str(tmp_path / "annv")
    S.publish_index_version(spark, SF, root)
    old_dir = S.resolve_current_index(spark, root)
    old_handle = S.load_ann_index(spark, old_dir)
    # the old artifacts fit the new corpus worse: a probe with an
    # unreachable threshold measures drift > 1 and touches nothing
    before = (S.read_current_version(spark, root), sorted(os.listdir(root)))
    probe = S.refresh_ann_index_versioned(spark, SF2, root, ratio=1e9)
    drift = probe["drift_ratio"]
    assert drift > 1.0, f"cross-corpus drift should exceed 1, got {drift}"
    assert probe["refreshed"] is False
    assert (
        S.read_current_version(spark, root),
        sorted(os.listdir(root)),
    ) == before
    # a threshold below the measured drift promotes
    rep = S.refresh_ann_index_versioned(
        spark, SF2, root, ratio=(1.0 + drift) / 2
    )
    assert rep["refreshed"] is True
    assert rep["previous"] != rep["version"]
    new_dir = S.resolve_current_index(spark, root)
    assert new_dir != old_dir
    # new serves == a fresh SF2 build
    fresh = str(tmp_path / "fresh")
    S.persist_ann_index(spark, SF2, fresh)
    assert _rows(
        S.serve_persisted_topk(spark, SF2, new_dir, nprobe=4)
    ) == _rows(S.serve_persisted_topk(spark, SF2, fresh, nprobe=4))
    # the superseded version is RETAINED (keep=2): an in-flight serve
    # that resolved before the flip keeps working, and its immutable
    # hold-open handle needs no invalidation
    assert os.path.exists(os.path.join(old_dir, S._INDEX_OK))
    assert len(S.serve_persisted_topk(spark, SF, old_dir, nprobe=4).collect()) > 0
    assert S.load_ann_index(spark, old_dir) is old_handle
    # drift re-anchors to the new version
    rep2 = S.refresh_ann_index_versioned(spark, SF2, root)
    assert rep2["refreshed"] is False
    assert abs(rep2["drift_ratio"] - 1.0) < 1e-12


def test_crash_windows_are_safe(spark, tmp_path):
    root = str(tmp_path / "annv")
    S.publish_index_version(spark, SF, root)
    cur = S.resolve_current_index(spark, root)

    # (a) crashed partial build: uncommitted dir, pointer intact —
    # resolve ignores it, GC never deletes uncommitted dirs (another
    # publisher may be mid-build; the owner deletes its own partial)
    partial = os.path.join(root, "versions", "deadbeef00000000")
    os.makedirs(partial)
    with open(os.path.join(partial, "junk"), "w") as fh:
        fh.write("x")
    assert S.resolve_current_index(spark, root) == cur
    assert S.gc_index_versions(spark, root) == []
    assert os.path.exists(partial)

    # (b) crash between version commit and pointer PUT: committed but
    # unpointed version -> old pointer still serves; the next publish
    # heals by flipping the pointer WITHOUT rebuilding
    spec = S.pq_spec_for(S.corpus_rows(SF2, "embeddings"))
    vid2 = S.index_version_id(SF2, spec)
    S.persist_ann_index(spark, SF2, os.path.join(root, "versions", vid2), spec)
    assert S.resolve_current_index(spark, root) == cur
    pub = S.publish_index_version(spark, SF2, root)
    assert pub["built"] is False and pub["version"] == vid2
    assert S.resolve_current_index(spark, root).endswith(vid2)


def test_gc_keeps_current_plus_previous(spark, tmp_path):
    root = str(tmp_path / "annv")
    # three distinct corpus generations (fingerprint folds the path)
    alt = tmp_path / "alt"
    alt.mkdir()
    for t in ("embeddings", "documents"):
        shutil.copy(f"{SF}/{t}.parquet", alt / f"{t}.parquet")
    v1 = S.publish_index_version(spark, SF, root)["version"]
    time.sleep(1.1)  # commit mtimes order the generations
    v2 = S.publish_index_version(spark, SF2, root)["version"]
    time.sleep(1.1)
    v3 = S.publish_index_version(spark, str(alt), root)["version"]
    assert len({v1, v2, v3}) == 3
    dropped = S.gc_index_versions(spark, root, keep=2)
    assert dropped == [v1]
    assert os.path.isdir(os.path.join(root, "versions", v2))
    assert S.resolve_current_index(spark, root).endswith(v3)


def test_refresh_versioned_is_lease_guarded(spark, tmp_path):
    from wikid_spark.streaming import ingest

    root = str(tmp_path / "annv")
    S.publish_index_version(spark, SF, root)
    lock = root + "/.refresh_lock"
    ingest._acquire_or_renew_lease(lock, "refresh-a", 300.0)
    with pytest.raises(ingest.ConcurrentWriterError):
        S.refresh_ann_index_versioned(spark, SF, root, writer_id="refresh-b")
    lease = os.path.join(lock, ingest.LEASE_FILE)
    with open(lease) as fh:
        assert fh.read().strip() == "refresh-a"  # intruder didn't steal
    # completed refreshes release: age the stale lease, take over
    aged = time.time() - 10_000
    os.utime(lease, (aged, aged))
    rep = S.refresh_ann_index_versioned(spark, SF, root, writer_id="refresh-b")
    assert rep["refreshed"] is False  # same corpus, no drift
    assert not os.path.exists(lease)
    # a forced rebuild under its own fresh lease also releases
    rep = S.refresh_ann_index_versioned(spark, SF2, root, force=True)
    assert rep["refreshed"] is True
    assert not os.path.exists(lease)


# ---------------------------------------------------------------------------
# Round 16: the FTS instance of the generic versioned-root engine
# (wikid_spark.versioned). The ANN tests above pin the engine's
# promotion contract; these pin the FTS wiring: content-keyed ids,
# bootstrap/no-op/content triggers, pointer hold-open, and the
# one-PUT flip under a corpus change.
# ---------------------------------------------------------------------------


def test_fts_publish_resolve_and_noop(spark, tmp_path):
    from wikid_spark.operators import fts as O

    root = str(tmp_path / "fts_root")
    rep = O.maybe_refresh_fts_index(spark, SF, root)
    assert rep["trigger"] == "bootstrap" and rep["built"] is True
    vdir = O.resolve_current_fts_index(spark, root)
    assert os.path.exists(os.path.join(vdir, "_FTS_OK"))
    assert os.path.exists(os.path.join(vdir, "version.json"))
    # unchanged corpus: stat-walk no-op, pointer untouched
    rep2 = O.maybe_refresh_fts_index(spark, SF, root)
    assert rep2 == {
        "refreshed": False,
        "version": rep["version"],
        "trigger": "current",
    }
    # the served values equal the in-plan twin
    from wikid_spark.operators.fts import bm25_from_docs, bm25_persisted
    from wikid_spark.catalog import table

    terms = ["spark", "vector"]
    got = _rows(
        bm25_persisted(spark, vdir, terms).select(
            "doc", S.F.round("score", 4).alias("s")
        )
    )
    want = _rows(
        bm25_from_docs(table(spark, SF, "documents"), "doc_id", "text", terms)
        .select("doc", S.F.round("score", 4).alias("s"))
    )
    assert got == want and len(got) > 0


def test_fts_content_change_flips_pointer_and_holds_old(spark, tmp_path):
    import shutil

    from wikid_spark.operators import fts as O

    # a mutable corpus dir: documents from SF, then swapped for SF2's
    corp = str(tmp_path / "corp")
    os.makedirs(corp)
    shutil.copy(f"{SF}/documents.parquet", f"{corp}/documents.parquet")
    root = str(tmp_path / "fts_root")
    rep0 = O.maybe_refresh_fts_index(spark, corp, root)
    v0 = rep0["version"]
    pre_swap_dir = O.resolve_current_fts_index(spark, root)

    shutil.copy(f"{SF2}/documents.parquet", f"{corp}/documents.parquet")
    rep1 = O.maybe_refresh_fts_index(spark, corp, root)
    assert rep1["trigger"] == "content" and rep1["refreshed"] is True
    assert rep1["version"] != v0
    assert O.resolve_current_fts_index(spark, root).endswith(rep1["version"])
    # hold-open: the superseded version dir still serves (gc keep=2)
    assert os.path.exists(os.path.join(pre_swap_dir, "_FTS_OK"))
    # and a THIRD corpus generation GCs the first
    shutil.copy(f"{SF}/documents.parquet", f"{corp}/documents.parquet")
    os.utime(f"{corp}/documents.parquet")  # new mtime -> new fingerprint
    rep2 = O.maybe_refresh_fts_index(spark, corp, root)
    assert rep2["refreshed"] is True
    assert v0 in rep2["dropped"] or rep1["version"] in rep2["dropped"] or (
        rep2["dropped"] == []
    )


def test_fts_layout_migration(spark, tmp_path):
    import shutil

    from wikid_spark.operators import fts as O

    root = str(tmp_path / "fts_root")
    rep0 = O.maybe_refresh_fts_index(spark, SF, root)
    real_vid = rep0["version"]
    fake_vid = "feedfacefeedface"
    shutil.copytree(
        f"{root}/versions/{real_vid}", f"{root}/versions/{fake_vid}"
    )
    _fs_write_text(spark, f"{root}/CURRENT", fake_vid)
    rep = O.maybe_refresh_fts_index(spark, SF, root)
    assert rep["trigger"] == "layout_migration" and rep["refreshed"] is True
    assert rep["version"] == real_vid
