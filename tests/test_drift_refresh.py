"""Drift-TRIGGERED index refresh (VERDICT r15 #3).

`maybe_refresh_index` connects the retrain signals the engine already
computes (derived-K vs the index footer's build rowcount, pq_spec_for
code width, distortion drift) to the lease-safe versioned promotion,
cheapest signal first. This suite pins each rung of the ladder on a
GROWING corpus — a tmp dir whose ``embeddings.parquet`` is a directory
Spark appends into, exactly the shape a streaming ingest produces.
"""

from __future__ import annotations

import os

import pytest

import wikid_spark.queries.similarity as S
from wikid_spark.fsutil import _fs_write_text

SF = "/root/testdata/sf0.001"


def _mk_corpus(spark, tmp_path, n, name="corp"):
    """A corpus dir holding the first ``n`` sf0.001 embedding rows,
    written as a DIRECTORY table so later batches can append."""
    corp = str(tmp_path / name)
    os.makedirs(corp, exist_ok=True)
    src = S.table(spark, SF, "embeddings").orderBy("vec_id").limit(n)
    src.coalesce(1).write.mode("overwrite").parquet(f"{corp}/embeddings.parquet")
    return corp


def _grow(spark, corp, lo, hi):
    """Append sf0.001 embedding rows vec_id in [lo, hi) with shifted
    ids (stays disjoint from the base slice)."""
    add = (
        S.table(spark, SF, "embeddings")
        .orderBy("vec_id")
        .limit(hi)
        .orderBy(S.F.desc("vec_id"))
        .limit(hi - lo)
        .withColumn("vec_id", S.F.col("vec_id") + 100_000)
    )
    add.coalesce(1).write.mode("append").parquet(f"{corp}/embeddings.parquet")


def test_bootstrap_then_current_short_circuit(spark, tmp_path, monkeypatch):
    corp = _mk_corpus(spark, tmp_path, 110)
    root = str(tmp_path / "root")
    rep = S.maybe_refresh_index(spark, corp, root)
    assert rep["trigger"] == "bootstrap" and rep["refreshed"] is True
    vid = S.read_current_version(spark, root)
    assert vid == rep["version"]
    # built at the derived K for 110 rows
    cents = spark.read.parquet(f"{root}/versions/{vid}/centroids")
    assert cents.count() == S.derived_k(110) == 11

    # unchanged corpus: the short-circuit must not even measure
    def _boom(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("distortion measured on unchanged corpus")

    monkeypatch.setattr(S, "measure_index_distortion", _boom)
    rep2 = S.maybe_refresh_index(spark, corp, root)
    assert rep2 == {"refreshed": False, "version": vid, "trigger": "current"}


def test_k_boundary_forces_resize(spark, tmp_path):
    corp = _mk_corpus(spark, tmp_path, 110)
    root = str(tmp_path / "root")
    S.maybe_refresh_index(spark, corp, root)
    old_vid = S.read_current_version(spark, root)
    _grow(spark, corp, 110, 145)  # ceil(sqrt): 11 -> 13
    rep = S.maybe_refresh_index(spark, corp, root)
    assert rep["trigger"] == "k_boundary"
    assert rep["refreshed"] is True
    assert (rep["k_built"], rep["k_now"]) == (11, 13)
    vid = S.read_current_version(spark, root)
    assert vid == rep["version"] != old_vid
    cents = spark.read.parquet(f"{root}/versions/{vid}/centroids")
    assert cents.count() == 13
    # gc kept the superseded version for in-flight serves
    assert os.path.exists(f"{root}/versions/{old_vid}/_INDEX_OK")


def test_within_regime_growth_delegates_to_distortion(spark, tmp_path):
    corp = _mk_corpus(spark, tmp_path, 110)
    root = str(tmp_path / "root")
    S.maybe_refresh_index(spark, corp, root)
    vid = S.read_current_version(spark, root)
    _grow(spark, corp, 110, 115)  # K stays 11; corpus bytes changed
    # drift below a generous threshold: measured, reported, no publish
    rep = S.maybe_refresh_index(spark, corp, root, distortion_ratio=1e9)
    assert rep["trigger"] == "none" and rep["refreshed"] is False
    assert rep["drift_ratio"] > 0 and rep["version"] == vid
    # same state past a tiny threshold: the distortion rung publishes
    rep2 = S.maybe_refresh_index(spark, corp, root, distortion_ratio=1e-12)
    assert rep2["trigger"] == "distortion" and rep2["refreshed"] is True
    assert S.read_current_version(spark, root) == rep2["version"] != vid


def test_code_width_crossing_forces_respec(spark, tmp_path, monkeypatch):
    corp = _mk_corpus(spark, tmp_path, 110)
    root = str(tmp_path / "root")
    S.maybe_refresh_index(spark, corp, root)
    assert S.load_ann_index_spec(
        spark, f"{root}/versions/{S.read_current_version(spark, root)}"
    ) == S.PQ4
    # K would not move (same rowcount-ish regime): isolate the width
    # rung by dropping the threshold between builds, then nudging the
    # corpus so the content short-circuit does not bind.
    _grow(spark, corp, 110, 111)  # K stays 11 (ceil sqrt 111 = 11)
    monkeypatch.setattr(S, "PQ_WIDTH_THRESHOLD", 100)
    rep = S.maybe_refresh_index(spark, corp, root)
    assert rep["trigger"] == "code_width" and rep["refreshed"] is True
    vid = S.read_current_version(spark, root)
    assert S.load_ann_index_spec(spark, f"{root}/versions/{vid}") == S.PQ8


def test_layout_mismatch_forces_migration(spark, tmp_path):
    """Round-16 review: a CURRENT version published by OLDER code (vid
    format drift with the corpus bytes unchanged) must force-migrate —
    the distortion rung would measure ~1.0 forever and pin the pointer
    on a layout current readers cannot serve from."""
    import shutil

    corp = _mk_corpus(spark, tmp_path, 110)
    root = str(tmp_path / "root")
    rep0 = S.maybe_refresh_index(spark, corp, root)
    real_vid = rep0["version"]
    # simulate an old-code publish: same artifacts under a vid the
    # current index_version_id format would never produce
    fake_vid = "0badc0de0badc0de"
    shutil.copytree(
        f"{root}/versions/{real_vid}", f"{root}/versions/{fake_vid}"
    )
    _fs_write_text(spark, f"{root}/CURRENT", fake_vid)
    rep = S.maybe_refresh_index(spark, corp, root)
    assert rep["trigger"] == "layout_migration" and rep["refreshed"] is True
    assert S.read_current_version(spark, root) == real_vid
    # provenance landed, so the next call is the free no-op again
    rep2 = S.maybe_refresh_index(spark, corp, root)
    assert rep2["trigger"] == "current"
    # the pre-provenance shape (no version.json at all) migrates too
    os.remove(f"{root}/versions/{fake_vid}/version.json")
    _fs_write_text(spark, f"{root}/CURRENT", fake_vid)
    rep3 = S.maybe_refresh_index(spark, corp, root)
    assert rep3["trigger"] == "layout_migration"
    assert S.read_current_version(spark, root) == real_vid


def test_hook_reports_contention_instead_of_failing_batch(spark, tmp_path):
    """Round-16 review: lease contention inside the foreachBatch hook
    is a skipped trigger, not a stream crash — the racing holder's
    publish converges on the same content-keyed version."""
    from wikid_spark.streaming.ingest import _acquire_or_renew_lease

    corp = _mk_corpus(spark, tmp_path, 110)
    root = str(tmp_path / "root")
    S.maybe_refresh_index(spark, corp, root)
    _grow(spark, corp, 110, 145)  # K boundary: a trigger WILL fire
    _acquire_or_renew_lease(root + "/.refresh_lock", "other-holder", 300)
    reports = []
    hooked = S.drift_refresh_writer(
        lambda b, bid: None, spark, corp, root,
        on_report=lambda bid, rep: reports.append((bid, rep)),
    )
    hooked(spark.range(1), 0)  # must NOT raise
    assert reports and reports[0][1]["trigger"] == "contended"
    assert reports[0][1]["refreshed"] is False


def test_composed_two_engine_hook(spark, tmp_path):
    """Round 16: one foreachBatch hook chain refreshing BOTH serving
    engines — the ANN ladder on a growing embeddings table and the FTS
    ladder on a changing documents table — by composing
    drift_refresh_writer twice. Each ladder fires its own trigger and
    flips its own pointer; serves from both resolved dirs equal fresh
    batch builds."""
    import shutil

    from wikid_spark.operators import fts as O

    corp = _mk_corpus(spark, tmp_path, 110)
    shutil.copy(f"{SF}/documents.parquet", f"{corp}/documents.parquet")
    ann_root = str(tmp_path / "ann_root")
    fts_root = str(tmp_path / "fts_root")

    reports: dict[str, list] = {"ann": [], "fts": []}
    base = lambda b, bid: None  # noqa: E731 - appends happen outside
    hooked = S.drift_refresh_writer(
        S.drift_refresh_writer(
            base, spark, corp, ann_root,
            on_report=lambda bid, rep: reports["ann"].append(rep),
        ),
        spark, corp, fts_root,
        refresh_fn=O.maybe_refresh_fts_index,
        on_report=lambda bid, rep: reports["fts"].append(rep),
    )

    hooked(spark.range(1), 0)  # batch 0: both bootstrap
    assert [r["trigger"] for r in reports["ann"]] == ["bootstrap"]
    assert [r["trigger"] for r in reports["fts"]] == ["bootstrap"]

    hooked(spark.range(1), 1)  # nothing changed: both no-op
    assert reports["ann"][-1]["trigger"] == "current"
    assert reports["fts"][-1]["trigger"] == "current"

    # grow embeddings past a K boundary AND swap the documents bytes
    _grow(spark, corp, 110, 145)
    shutil.copy("/root/testdata/sf0.01/documents.parquet",
                f"{corp}/documents.parquet")
    hooked(spark.range(1), 2)
    assert reports["ann"][-1]["trigger"] == "k_boundary"
    assert reports["fts"][-1]["trigger"] == "content"

    # both pointers serve the refreshed generations
    vdir = S.resolve_current_index(spark, ann_root)
    cents = spark.read.parquet(f"{vdir}/centroids")
    assert cents.count() == S.derived_k(145) == 13
    fdir = O.resolve_current_fts_index(spark, fts_root)
    from wikid_spark.catalog import table

    got = sorted(
        map(
            tuple,
            O.bm25_persisted(spark, fdir, ["spark", "vector"])
            .select("doc", S.F.round("score", 4).alias("s"))
            .collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            O.bm25_from_docs(
                table(spark, corp, "documents"), "doc_id", "text",
                ["spark", "vector"],
            )
            .select("doc", S.F.round("score", 4).alias("s"))
            .collect(),
        )
    )
    assert got == want and len(got) > 0
