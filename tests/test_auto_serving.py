"""SLA-driven auto ANN serving (round 11): `sim_ann_auto_topk` derives
every serving dial (code width, cell count, probe depth) from the
corpus rowcount; `_scale_gated_oracle` makes the DuckDB twin pick the
SAME branch from the same rowcount, so correctness runs at any scale
diff against the width actually served (ADVICE r10)."""

from __future__ import annotations

import duckdb
import pytest

import wikid_spark.queries.similarity as S

SF = "/root/testdata/sf0.001"


def test_auto_small_branch_equals_trained_np2(spark):
    """Below PQ_WIDTH_THRESHOLD the auto entry serves the raw-vector
    trained np2 plan — identical rows to its fixed-policy twin."""
    got = sorted(tuple(r) for r in S.sim_ann_auto_topk(spark, SF).collect())
    want = sorted(
        tuple(r) for r in S.sim_ivf_trained_nprobe2_topk(spark, SF).collect()
    )
    assert got == want and len(got) > 0


def test_auto_large_branch_dispatches_all_dials(spark, monkeypatch):
    """At or above the threshold the auto entry must dispatch to the
    all-dials composition: residual IVFADC, PQ8 codes, nprobe=4."""
    calls = {}

    def fake_plan(spark_, sf_dir_, nprobes=None, spec=None):
        calls.update(nprobes=nprobes, spec=spec)
        return {d: "sentinel" for d in nprobes}

    monkeypatch.setattr(S, "corpus_rows", lambda *a: S.PQ_WIDTH_THRESHOLD)
    monkeypatch.setattr(S, "_ivfpq_residual_plan", fake_plan)
    assert S.sim_ann_auto_topk(spark, SF) == "sentinel"
    assert calls == {"nprobes": (4,), "spec": S.PQ8}


def test_auto_high_small_branch_is_exact_brute(spark):
    got = sorted(
        tuple(r) for r in S.sim_ann_auto_high_topk(spark, SF).collect()
    )
    want = sorted(tuple(r) for r in S.sim_ann_brute_topk(spark, SF).collect())
    assert got == want and len(got) > 0


def test_auto_high_large_branch_dispatches_pq8_flat(spark, monkeypatch):
    calls = {}

    def fake_plan(spark_, sf_dir_, train_rounds=None, depth=None, spec=None):
        calls.update(train_rounds=train_rounds, depth=depth, spec=spec)
        return "sentinel"

    monkeypatch.setattr(S, "corpus_rows", lambda *a: S.PQ_WIDTH_THRESHOLD)
    monkeypatch.setattr(S, "_pq_rerank_plan", fake_plan)
    assert S.sim_ann_auto_high_topk(spark, SF) == "sentinel"
    assert calls == {
        "train_rounds": S.PQ_TRAIN_ROUNDS,
        "depth": 50,
        "spec": S.PQ8,
    }


def test_auto_unknown_tier_raises(spark):
    with pytest.raises(ValueError, match="recall tier"):
        S.ann_auto_topk(spark, SF, tier="nope")


@pytest.mark.parametrize(
    "n,expect", [(S.PQ_WIDTH_THRESHOLD - 1, "small"), (S.PQ_WIDTH_THRESHOLD, "large")]
)
def test_scale_gated_oracle_picks_branch_by_rowcount(n, expect):
    """The gate itself, pinned cheaply: a synthetic embeddings view of
    n rows must route the union to exactly one branch — the same one
    `pq_spec_for(n)` picks on the Spark side."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM range({n}) t(vec_id)"
    )
    sql = S._scale_gated_oracle(
        "SELECT 1 AS query_id, 1 AS neighbor_id, 0.5::DOUBLE AS sim, 1 AS rn",
        "SELECT 2 AS query_id, 2 AS neighbor_id, 0.9::DOUBLE AS sim, 1 AS rn",
    )
    rows = con.execute(sql).fetchall()
    assert rows == ([(1, 1, 0.5, 1)] if expect == "small" else [(2, 2, 0.9, 1)])
    spark_spec = S.pq_spec_for(n)
    assert spark_spec == (S.PQ4 if expect == "small" else S.PQ8)


def test_auto_balanced_small_branch_serves_derived_depth(spark):
    """The balanced tier's small branch is the trained raw-vector plan
    at the FOOTER-DERIVED depth: at sf0.001's 500 embeddings that is
    nprobe = ceil(500^(1/4)) = 5 — row-identical to the same plan
    built with the depth passed explicitly."""
    from wikid_spark.catalog import corpus_rows

    n = corpus_rows(SF, "embeddings")
    np_ = S.balanced_nprobe(n)
    assert np_ == 5  # premise: above the floor, genuinely derived
    got = sorted(
        tuple(r)
        for r in S.sim_ann_auto_balanced_topk(spark, SF).collect()
    )
    want = sorted(
        tuple(r)
        for r in S._trained_probe_topk(
            *S._trained_index(spark, SF), (np_,)
        )[np_].collect()
    )
    assert got == want and len(got) > 0


def test_auto_balanced_large_branch_derives_nprobe(spark, monkeypatch):
    """At the threshold the balanced tier dispatches the all-dials
    composition with a FOOTER-DERIVED probe depth: n=20,000 →
    ceil(20000^(1/4)) = 12."""
    calls = {}

    def fake_plan(spark_, sf_dir_, nprobes=None, spec=None):
        calls.update(nprobes=nprobes, spec=spec)
        return {d: "sentinel" for d in nprobes}

    monkeypatch.setattr(S, "corpus_rows", lambda *a: S.PQ_WIDTH_THRESHOLD)
    monkeypatch.setattr(S, "_ivfpq_residual_plan", fake_plan)
    assert S.ann_auto_topk(spark, SF, tier="balanced") == "sentinel"
    assert calls == {"nprobes": (12,), "spec": S.PQ8}


@pytest.mark.parametrize(
    "n",
    [0, 1, 4, 255, 256, 257, 500, 4095, 4096, 20_000, 20_736, 20_737, 500_000],
)
def test_balanced_nprobe_matches_duckdb_expression(n):
    """Python derivation == the SQL text interpolated into the oracles,
    including 4th-power boundaries (256 = 4^4, 20736 = 12^4) where a
    non-correctly-rounded POW(n, 0.25) could flip the ceil."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM range({n}) t(i)")
    (got,) = con.execute(f"SELECT {S._BALANCED_NPROBE_SQL}").fetchone()
    assert got == S.balanced_nprobe(n)


@pytest.mark.skipif(
    "WIKID_SPARK_SCALE_CERT" not in __import__("os").environ,
    reason="opt-in: large-branch certification needs /tmp/scale corpora "
    "(tools/gen_sf.py) and runs for ~1-2 h of DuckDB SQL k-means",
)
def test_large_branch_certification(spark):
    """Repeatable form of the round-12 certification (verdict r11 #1):
    full Spark-vs-DuckDB hash diff of all four auto entries at corpora
    where the scale-gated oracle's LARGE arm is the one returning rows —
    n = 20,000 (exactly PQ_WIDTH_THRESHOLD, the boundary) — plus the
    small arm at n = 8,000 and, if generated, n = 40,000 strictly
    above. Regenerate corpora with tools/gen_sf.py (factors 4/10/20
    over sf0.1); absent ones are skipped, at least one must exist.
    Memory note (learned the hard way, SCALE.md round 12): run with
    WIKID_SPARK_DUCKDB_MEM sized to the free RAM and nothing else
    heavy on the host — the large-branch oracles pin tens of GB."""
    import os

    from tools.certify_auto_large import certify

    dirs = [
        d
        for d in ("/tmp/scale/sf0.4", "/tmp/scale/sf1", "/tmp/scale/sf2")
        if os.path.isdir(d)
    ]
    assert dirs, "no /tmp/scale corpora — run tools/gen_sf.py first"
    for sf_dir in dirs:
        for name, _branch, ok, _wall, diag in certify(spark, sf_dir):
            assert ok, f"{sf_dir} {name}: {diag}"
