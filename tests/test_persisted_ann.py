"""Persisted, cell-partitioned batch ANN serving (round 11).

The round-10 scale audit's one structural caveat: the in-plan batch
``sim_*`` queries bound candidate COMPUTE by the probe budget but still
scan the full index column. `persist_ann_index` +
`serve_persisted_topk` close that — the index persists partitioned by
cent_id and the serve's scan partition-prunes to the probed cells.
These tests pin (a) result identity with the in-plan twin, (b) the
PartitionFilters in the physical plan, and (c) the actual file-level
pruning (inputFiles reads only probed cell directories).
"""

from __future__ import annotations

import glob
import os

import wikid_spark.queries.similarity as S

SF = "/root/testdata/sf0.001"


def _build(spark, tmp_path):
    out = str(tmp_path / "ann_index")
    spec = S.persist_ann_index(spark, SF, out, spec=S.PQ8)
    return out, spec


def test_persist_writes_committed_artifacts(spark, tmp_path):
    out, spec = _build(spark, tmp_path)
    assert spec == S.PQ8
    assert os.path.exists(os.path.join(out, S._INDEX_OK))
    assert S.load_ann_index_spec(spark, out) == S.PQ8
    cents = spark.read.parquet(f"{out}/centroids")
    assert cents.count() == S.derived_k(
        S.corpus_rows(SF, "embeddings")
    )
    cb = spark.read.parquet(f"{out}/codebooks")
    assert cb.count() <= S.PQ8.subs * S.PQ8.codes
    # the index is directory-partitioned on cent_id — the pruning unit
    cells = glob.glob(os.path.join(out, "rindex", "cent_id=*"))
    assert len(cells) > 1
    rindex = spark.read.parquet(f"{out}/rindex")
    assert rindex.count() == S.corpus_rows(SF, "embeddings")
    assert set(S.PQ8.cols) <= set(rindex.columns)


def test_persisted_serve_matches_in_plan_twin(spark, tmp_path):
    """Results must be identical to the in-plan all-dials query
    (sim_ivfpq8_residual_np4_topk) — same training, same serve tail;
    only the scan changes."""
    out, _ = _build(spark, tmp_path)
    got = sorted(
        tuple(r)
        for r in S.serve_persisted_topk(
            spark, SF, out, nprobe=4, spec=S.PQ8
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in S.sim_ivfpq8_residual_np4_topk(spark, SF).collect()
    )
    assert got == want and len(got) > 0


def test_persisted_serve_scan_is_partition_pruned(spark, tmp_path):
    """The 100 TB IO claim, plan-pinned: the serve's cell pruning
    (`_cell_pruned`) gives the rindex scan a cent_id PartitionFilter
    naming EXACTLY the probed cells (directory pruning), and the
    production serve's exact re-rank pushes the k-bounded shortlist
    ids into the embeddings scan (row-group skipping) instead of
    reading the corpus-width raw-vector column."""
    import re

    out, _ = _build(spark, tmp_path)
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    # plan toString truncates long metadata at 100 chars by default
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        # The shortlist-id pushdown eagerly checkpoints the shortlist,
        # so the FINAL serve plan no longer contains the rindex scan.
        # Pin the partition pruning on the serve's pruning function
        # over the same scan (exactly what executes inside the
        # checkpoint)...
        raw_sample = S._raw_sample(S.table(spark, SF, "embeddings"))
        cents = spark.read.parquet(f"{out}/centroids")
        probes = S._assign_blas(
            raw_sample.select("vec_id", "qemb"),
            cents,
            top_m=1,
            n_rows=S._QUERY_SAMPLE_MAX_ROWS,
            k=S.derived_k(S.corpus_rows(SF, "embeddings")),
        ).select(
            S.F.col("vec_id").alias("query_id"),
            S.F.col("cent_id").alias("pcell"),
        )
        probed = {
            r["pcell"] for r in probes.select("pcell").distinct().collect()
        }
        rindex = spark.read.schema(
            "vec_id bigint, pqcode bigint, pqcode2 bigint, cent_id bigint"
        ).parquet(f"{out}/rindex")
        pruned = S._cell_pruned(rindex, probes)
        plan = pruned._jdf.queryExecution().executedPlan().toString()
        # <=10 literals render as IN (...), larger lists as INSET ...
        m = re.search(
            r"PartitionFilters: \[cent_id#\d+L? IN(?:SET)? \(?([0-9, ]+)",
            plan,
        )
        assert m, plan[:4000]
        filtered_cells = {int(x) for x in m.group(1).split(",")}
        total_cells = len(
            glob.glob(os.path.join(out, "rindex", "cent_id=*"))
        )
        # the filter names EXACTLY the probed cells; Catalyst prunes
        # the file listing to them (inputFiles() cannot show this --
        # it is pruning-blind)
        assert filtered_cells == probed
        assert len(filtered_cells) < total_cells

        # ...and the production serve pushes shortlist ids into the
        # embeddings scan (round-11 rerank pushdown).
        df = S.serve_persisted_topk(spark, SF, out, nprobe=1, spec=S.PQ8)
        plan2 = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    emb_scans = [
        line
        for line in plan2.splitlines()
        if "embeddings.parquet" in line and "vec_id" in line
    ]
    assert any(
        re.search(r"PushedFilters: \[.*In\(vec_id", line)
        for line in emb_scans
    ), emb_scans


def test_ensure_persisted_index_caches_and_is_idempotent(spark):
    d1 = S._ensure_persisted_index(spark, SF, S.PQ8)
    assert os.path.exists(os.path.join(d1, S._INDEX_OK))
    d2 = S._ensure_persisted_index(spark, SF, S.PQ8)
    assert d1 == d2


def test_persist_commits_via_hadoop_fs_on_uri_out_dir(spark, tmp_path):
    """ADVICE r11: spec.json and the _INDEX_OK marker must land on the
    SAME filesystem as the parquet artifacts. Exercised with the file:
    scheme — a driver-local open() writes a literal './file:...' path
    (or errors) instead of committing next to the index."""
    out = f"file:{tmp_path}/uri_index"
    spec = S.persist_ann_index(spark, SF, out, spec=S.PQ8)
    local = str(tmp_path / "uri_index")
    assert os.path.exists(os.path.join(local, S._INDEX_OK))
    assert S.load_ann_index_spec(spark, out) == spec == S.PQ8
    # serving from the URI path round-trips the spec through the FS too
    got = sorted(
        tuple(r)
        for r in S.serve_persisted_topk(spark, SF, out, nprobe=4).collect()
    )
    want = sorted(
        tuple(r)
        for r in S.serve_persisted_topk(
            spark, SF, local, nprobe=4, spec=S.PQ8
        ).collect()
    )
    assert got == want


def test_ensure_persisted_index_invalidates_on_content_change(
    spark, tmp_path, monkeypatch
):
    """ADVICE r11: the cache key must change when the corpus CONTENT
    changes even if the rowcount doesn't — a regenerated embeddings
    file with the same rows must not serve the stale index."""
    import shutil

    sf2 = tmp_path / "sf_copy"
    sf2.mkdir()
    for t in ("embeddings", "documents"):
        src = os.path.join(SF, f"{t}.parquet")
        shutil.copy(src, sf2 / f"{t}.parquet")
    d1 = S._ensure_persisted_index(spark, str(sf2), S.PQ8)
    # same rowcount, same path — but touched content (new mtime)
    os.utime(sf2 / "embeddings.parquet")
    d2 = S._ensure_persisted_index(spark, str(sf2), S.PQ8)
    assert d1 != d2


def test_load_ann_index_handle_is_session_cached(spark, tmp_path):
    """Round 12 (per-serve listing kill): load_ann_index returns the
    SAME handle — and therefore the same resolved FileIndex, which
    lists the cell directories once — for repeated loads in one
    session, and serves from the handle are result-identical to a
    fresh load."""
    out, _ = _build(spark, tmp_path)
    h1 = S.load_ann_index(spark, out)
    h2 = S.load_ann_index(spark, out)
    assert h1 is h2
    assert h1.rindex is h2.rindex  # shared FileIndex → one listing
    assert h1.spec == S.PQ8
    got1 = sorted(
        tuple(r)
        for r in S.serve_persisted_topk(spark, SF, out, nprobe=4).collect()
    )
    got2 = sorted(
        tuple(r)
        for r in S.serve_persisted_topk(spark, SF, out, nprobe=4).collect()
    )
    assert got1 == got2


# ---------------------------------------------------------------------------
# Build-time distortion baseline — the denominator of the versioned
# refresh trigger (tests/test_versioned_index.py)
# ---------------------------------------------------------------------------


def test_persist_records_build_stats(spark, tmp_path):
    out, _ = _build(spark, tmp_path)
    st = S.load_ann_index_stats(spark, out)
    assert st["n_vectors"] == S.corpus_rows(SF, "embeddings")
    assert st["mean_distortion"] > 0
    # the recorded baseline IS the same metric measure_index_distortion
    # computes — same corpus, same artifacts → identical numbers
    cur = S.measure_index_distortion(spark, SF, out)
    assert cur == st


def test_handle_cache_is_session_not_application(spark, tmp_path):
    """ADVICE r13 discipline applied to the handle cache too: two
    sessions of ONE application get distinct hold-open handles (the
    cached DataFrames are session-bound plans)."""
    out = str(tmp_path / "handle_sessions")
    S.persist_ann_index(spark, SF, out)
    h1 = S.load_ann_index(spark, out)
    assert S.load_ann_index(spark, out) is h1  # same session memo-hits
    other = spark.newSession()
    h2 = S.load_ann_index(other, out)
    assert h2 is not h1
    assert h2.rindex.sparkSession is other


# ---------------------------------------------------------------------------
# Round 16: the mindex/ IVF-Flat exact-vector component (VERDICT r15
# #2) — written cell-partitioned with the original float vectors, the
# mmr/exact-rerank candidate stage serves from it value-identically to
# the in-plan trained index, and the scan partition-prunes to the
# probed cells.
# ---------------------------------------------------------------------------


def test_persist_writes_mindex_component(spark, tmp_path):
    out, _ = _build(spark, tmp_path)
    cells = glob.glob(os.path.join(out, "mindex", "cent_id=*"))
    assert cells
    # one file per cell directory (the footer-cost bound rindex pins)
    for d in cells:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d
    mindex = spark.read.parquet(f"{out}/mindex")
    n = S.table(spark, SF, "embeddings").count()
    assert mindex.count() == 2 * n  # top-2 assignment: two rows per vector
    # float vectors round-trip exactly: spot-join against the corpus
    joined = (
        mindex.filter(S.F.col("cent_rank") == 1)
        .select("vec_id", S.F.col("embedding").alias("e1"))
        .join(S.table(spark, SF, "embeddings"), "vec_id")
        .filter(S.F.col("e1") != S.F.col("embedding"))
        .count()
    )
    assert joined == 0


def test_mmr_ann_multi_persisted_equals_in_plan(spark):
    a = sorted(
        map(tuple, S.sim_mmr_ann_multi(spark, SF).collect())
    )
    b = sorted(
        map(tuple, S.sim_mmr_ann_multi_persisted(spark, SF).collect())
    )
    assert a == b and len(a) > 0


def test_mmr_candidate_scan_is_partition_pruned(spark, tmp_path):
    """VERDICT r15 #2: PartitionFilters pinned on the mindex candidate
    scan the persisted MMR and hard-negative serves run
    (`_cell_pruned` over `_mindex`) — the serve reads the probed
    cells' directories only."""
    import re

    out, _ = _build(spark, tmp_path)
    prev = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        cents = spark.read.parquet(f"{out}/centroids")
        emb = S.table(spark, SF, "embeddings")
        sample = S._sample_filter(
            emb.select(
                "vec_id",
                "embedding",
                S.quantize_embedding(S.F.col("embedding")).alias("qemb"),
            )
        )
        probes = S._assign_blas(
            sample,
            cents,
            top_m=2,
            n_rows=S._QUERY_SAMPLE_MAX_ROWS,
            k=S.derived_k(S.corpus_rows(SF, "embeddings")),
        )
        probes = probes.select(S.F.col("cent_id").alias("pcell"))
        cells = sorted({r["pcell"] for r in probes.collect()})
        assert cells
        mindex = S._cell_pruned(S._mindex(spark, out), probes)
        plan = mindex._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    m = re.search(
        r"PartitionFilters: \[cent_id#\d+L? IN(?:SET)? \(?([0-9, ]+)", plan
    )
    assert m, plan[:4000]
    assert {int(x) for x in m.group(1).split(",")} == set(cells)
    total = len(glob.glob(os.path.join(out, "mindex", "cent_id=*")))
    assert len(cells) < total  # genuinely pruned, not all-cells


def test_mindex_carries_label_attribute(spark, tmp_path):
    """L4: the label attribute column rides the mindex rows bit-exactly
    (the hard-negative serve's anti-predicate runs in the index scan)."""
    out, _ = _build(spark, tmp_path)
    mindex = spark.read.parquet(f"{out}/mindex")
    assert "label" in mindex.columns
    bad = (
        mindex.select("vec_id", S.F.col("label").alias("ilabel"))
        .dropDuplicates(["vec_id"])
        .join(S.table(spark, SF, "embeddings"), "vec_id")
        .filter(S.F.col("ilabel") != S.F.col("label"))
        .count()
    )
    assert bad == 0


def test_hard_negatives_persisted_equals_in_plan(spark):
    a = sorted(map(tuple, S.sim_hard_negatives_ann_topk(spark, SF).collect()))
    b = sorted(map(tuple, S.sim_hard_negatives_persisted(spark, SF).collect()))
    assert a == b and len(a) > 0
