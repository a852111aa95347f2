"""Product-quantization invariants beyond the oracle twin.

The oracle (tests/test_oracle.py) certifies engine parity; these pin
the PQ math itself: the packed code round-trips to the per-subspace
argmins, and the ADC lookup distance equals the exact squared L2 to
the codeword reconstruction — the identity that makes the 8-byte scan
a faithful stand-in for vector arithmetic.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from tests.conftest import SF_DIR_SMALL
from wikid_spark.catalog import corpus_rows, table
from wikid_spark.queries.similarity import (
    PQ_CODES,
    PQ_DIMS,
    PQ_SUBS,
    _pq_adc_cands,
    _pq_codebooks,
    _pq_dtab,
    _pq_encode,
    _pq_parts,
    quantize_embedding,
)


def _numpy_reference(spark, sf_dir):
    """Independent numpy PQ: codebooks straight from the collected
    codebook table, codes by brute-force argmin, ADC by explicit
    reconstruction."""
    import numpy as np

    emb = table(spark, sf_dir, "embeddings")
    rows = emb.select(
        "vec_id", quantize_embedding(F.col("embedding")).alias("qemb")
    ).collect()
    X = {r["vec_id"]: np.array(r["qemb"], dtype=np.int64) for r in rows}
    cb_rows = _pq_codebooks(emb).collect()
    C = np.zeros((PQ_SUBS, PQ_CODES, PQ_DIMS), dtype=np.int64)
    for r in cb_rows:
        C[r["sub"], r["code_id"]] = np.array(r["cw"], dtype=np.int64)
    codes = {}
    for vid, x in X.items():
        xs = x.reshape(PQ_SUBS, PQ_DIMS)
        d = ((xs[:, None, :] - C) ** 2).sum(axis=2)
        codes[vid] = d.argmin(axis=1)
    return X, C, codes


def test_pq_pack_roundtrip(spark):
    """pqcode unpacks (shift/mask) to exactly the per-subspace argmin
    codes an independent numpy pass computes."""
    _, _, codes_df, _ = _pq_parts(spark, SF_DIR_SMALL)
    got = {r["vec_id"]: r["pqcode"] for r in codes_df.collect()}
    _, _, want = _numpy_reference(spark, SF_DIR_SMALL)
    assert set(got) == set(want) and len(got) > 0
    for vid, pq in got.items():
        unpacked = [(pq >> (4 * s)) & 15 for s in range(PQ_SUBS)]
        assert unpacked == list(want[vid]), vid
        assert 0 <= pq < (1 << (4 * PQ_SUBS))


def test_pq_adc_is_exact_reconstruction_distance(spark):
    """ADC identity: adist(q, n) == ||qemb(q) - reconstruction(n)||^2
    exactly (integer), where reconstruction(n) concatenates n's
    codewords. The lookup-table path must introduce zero error beyond
    quantization itself."""
    import numpy as np

    qemb, cb, codes_df, sample = _pq_parts(spark, SF_DIR_SMALL)
    cands = _pq_adc_cands(codes_df, _pq_dtab(sample, cb)).collect()
    assert len(cands) > 0
    X, C, codes = _numpy_reference(spark, SF_DIR_SMALL)
    for r in cands:
        recon = np.concatenate(
            [C[s, codes[r["neighbor_id"]][s]] for s in range(PQ_SUBS)]
        )
        want = int(((X[r["query_id"]] - recon) ** 2).sum())
        assert r["adist"] == want, (r["query_id"], r["neighbor_id"])


def test_pq_encode_passthrough_and_broadcast_plan(spark):
    """The encode pass preserves every input column and row; the ADC
    candidate pass broadcasts the query tables (no shuffle join of the
    corpus against the sample)."""
    emb = table(spark, SF_DIR_SMALL, "embeddings")
    qemb = emb.select(
        "vec_id", quantize_embedding(F.col("embedding")).alias("qemb")
    )
    cb = _pq_codebooks(emb)
    out = _pq_encode(qemb, cb, n_rows=corpus_rows(SF_DIR_SMALL, "embeddings"))
    assert out.columns == ["vec_id", "qemb", "pqcode"]
    assert out.count() == qemb.count()

    codes = out.select("vec_id", "pqcode")
    _, _, _, sample = _pq_parts(spark, SF_DIR_SMALL)
    plan = _pq_adc_cands(codes, _pq_dtab(sample, cb))._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_pq_distortion_column_and_training_improves_it(spark):
    """with_dist emits the exact reconstruction error (== the sum of
    chosen sub-distances the numpy reference computes), and Lloyd
    training never worsens total distortion on the training corpus."""
    import numpy as np

    from wikid_spark.queries.similarity import (
        PQ_TRAIN_ROUNDS,
        _pq_train,
    )

    emb = table(spark, SF_DIR_SMALL, "embeddings")
    qemb = emb.select(
        "vec_id", quantize_embedding(F.col("embedding")).alias("qemb")
    )
    cb0 = _pq_codebooks(emb)
    n = corpus_rows(SF_DIR_SMALL, "embeddings")
    enc = _pq_encode(qemb, cb0, with_dist=True, n_rows=n).collect()
    X, C, codes = _numpy_reference(spark, SF_DIR_SMALL)
    for r in enc:
        want = int(
            sum(
                ((X[r["vec_id"]].reshape(PQ_SUBS, PQ_DIMS)[s] - C[s, codes[r["vec_id"]][s]]) ** 2).sum()
                for s in range(PQ_SUBS)
            )
        )
        assert r["pqdist"] == want, r["vec_id"]

    seeded_total = sum(r["pqdist"] for r in enc)
    cbt = _pq_train(qemb, cb0, PQ_TRAIN_ROUNDS, n_rows=n)
    trained_total = sum(
        r["pqdist"]
        for r in _pq_encode(qemb, cbt, with_dist=True, n_rows=n).collect()
    )
    assert trained_total <= seeded_total


def test_celled_pq_plans_have_no_sortmergejoin(spark):
    """The IVF-PQ serving plans must stay broadcast-shaped end to end:
    probes, ADC tables, and shortlists broadcast into the index scan —
    a SortMergeJoin anywhere means a corpus-scale shuffle crept in."""
    from wikid_spark.registry import all_queries

    for name in (
        "sim_ivfpq_topk",
        "sim_ivfpq_residual_topk",
        "sim_ivfpq_residual_np4_topk",
        "sim_ivfpq8_residual_np4_topk",
    ):
        df = all_queries()[name].fn(spark, SF_DIR_SMALL)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, name


def test_pq_dtab_survives_dropped_codewords(spark):
    """ADVICE r9: the per-sub distance rows must be code_id-KEYED, not
    positional. Emulate a Lloyd round that dropped a mid-range
    (sub, code) cell, re-encode under the pruned codebook, and check
    every ADC distance still equals the exact reconstruction distance
    computed by joining on (sub, code_id) — the oracle's join shape.
    With positional rows, codes above the dropped id read the wrong
    codeword and the top codes read out of range."""
    import numpy as np

    emb = table(spark, SF_DIR_SMALL, "embeddings")
    qemb = emb.select(
        "vec_id", quantize_embedding(F.col("embedding")).alias("qemb")
    )
    # Drop code 3 in sub 0 and code 15 (the top code) in sub 5 — the
    # two failure shapes: position shift and out-of-range.
    cb = _pq_codebooks(emb).filter(
        ~((F.col("sub") == 0) & (F.col("code_id") == 3))
        & ~((F.col("sub") == 5) & (F.col("code_id") == PQ_CODES - 1))
    )
    codes = _pq_encode(
        qemb, cb, n_rows=corpus_rows(SF_DIR_SMALL, "embeddings")
    ).select("vec_id", "pqcode")
    from wikid_spark.queries.similarity import _pq_parts

    _, _, _, sample = _pq_parts(spark, SF_DIR_SMALL)
    got = {
        (r["query_id"], r["neighbor_id"]): r["adist"]
        for r in _pq_adc_cands(codes, _pq_dtab(sample, cb)).collect()
    }
    assert len(got) > 0
    assert all(v is not None for v in got.values())

    # Exact recompute: keyed join on (sub, code_id), never positional.
    C = {
        (r["sub"], r["code_id"]): np.array(r["cw"], dtype=np.int64)
        for r in cb.collect()
    }
    X = {
        r["vec_id"]: np.array(r["qemb"], dtype=np.int64)
        for r in qemb.collect()
    }
    packed = {r["vec_id"]: r["pqcode"] for r in codes.collect()}
    assert not any(
        ((packed[v] >> (4 * 0)) & 15) == 3 for v in packed
    ), "encoder assigned a dropped code"
    for (q, n), adist in got.items():
        recon = np.concatenate(
            [C[(s, (packed[n] >> (4 * s)) & 15)] for s in range(PQ_SUBS)]
        )
        want = int(((X[q] - recon) ** 2).sum())
        assert adist == want, (q, n)


def test_pq8_pack_roundtrip_and_adc(spark):
    """The 16-byte (two-word, 8-bit) index: packed words unpack to the
    per-subspace argmins of an independent numpy pass, and the ADC
    distance over both words equals the exact reconstruction
    distance."""
    import numpy as np

    from wikid_spark.queries.similarity import PQ8, _pq_parts

    qemb, cb, codes_df, sample = _pq_parts(spark, SF_DIR_SMALL, spec=PQ8)
    got = {
        r["vec_id"]: (r["pqcode"], r["pqcode2"]) for r in codes_df.collect()
    }
    assert len(got) > 0
    C = {}
    for r in cb.collect():
        C[(r["sub"], r["code_id"])] = np.array(r["cw"], dtype=np.int64)
    X = {
        r["vec_id"]: np.array(r["qemb"], dtype=np.int64)
        for r in qemb.select("vec_id", "qemb").collect()
    }
    want_codes = {}
    for vid, x in X.items():
        xs = x.reshape(PQ8.subs, PQ8.dims)
        cs = []
        for s in range(PQ8.subs):
            cands = sorted(
                (int(((xs[s] - cw) ** 2).sum()), cid)
                for (sub, cid), cw in C.items()
                if sub == s
            )
            cs.append(cands[0][1])
        want_codes[vid] = cs
    for vid, (w0, w1) in got.items():
        unpacked = [((w0 if s < 8 else w1) >> (8 * (s % 8))) & 255
                    for s in range(PQ8.subs)]
        assert unpacked == want_codes[vid], vid

    cands = _pq_adc_cands(
        codes_df.select("vec_id", "pqcode", "pqcode2"),
        _pq_dtab(sample, cb, spec=PQ8),
        PQ8,
    ).collect()
    assert len(cands) > 0
    for r in cands:
        recon = np.concatenate(
            [C[(s, want_codes[r["neighbor_id"]][s])] for s in range(PQ8.subs)]
        )
        want = int(((X[r["query_id"]] - recon) ** 2).sum())
        assert r["adist"] == want, (r["query_id"], r["neighbor_id"])


def test_pq8_sign_wrapped_word_roundtrips(spark):
    """A code >= 128 in the top byte of a word sets the BIGINT sign
    bit. Packing must wrap two's-complement (uint64 view) and the
    arithmetic-shift/mask unpack must still extract the original
    code — pinned with a crafted codebook that forces code 200 at
    subs 7 and 15 (both words' top bytes)."""
    import numpy as np

    import pyspark.sql.functions as F
    from wikid_spark.queries.similarity import PQ8, _pq_encode

    # Codebook: code c at sub s is the constant vector [c*10]*4 —
    # vector slices equal to [2000]*4 pick code 200 everywhere.
    rows = [
        (s, c, [c * 10] * PQ8.dims)
        for s in range(PQ8.subs)
        for c in range(PQ8.codes)
    ]
    cb = spark.createDataFrame(
        rows, "sub int, code_id long, cw array<long>"
    )
    vec = spark.createDataFrame(
        [(1, [2000] * 64)], "vec_id long, qemb array<long>"
    )
    out = _pq_encode(vec, cb, spec=PQ8, n_rows=1).collect()[0]
    assert out["pqcode"] < 0 and out["pqcode2"] < 0  # sign bit set
    for s in range(PQ8.subs):
        w = out["pqcode"] if s < 8 else out["pqcode2"]
        assert ((w >> (8 * (s % 8))) & 255) == 200, s
    # and the Spark-side unpack expression agrees
    from wikid_spark.queries.similarity import _pq_unpack

    df = spark.createDataFrame(
        [(out["pqcode"], out["pqcode2"])], "pqcode long, pqcode2 long"
    )
    arr = df.select(
        _pq_unpack([F.col("pqcode"), F.col("pqcode2")], PQ8).alias("a")
    ).collect()[0]["a"]
    assert arr == [200] * PQ8.subs


def test_pq_spec_for_width_dial():
    """The width derives from corpus size like derived_k: 8-byte codes
    below the threshold, 16-byte at/above; both specs tile EMBED_DIMS
    exactly and declare their packing layout consistently."""
    from wikid_spark.queries.similarity import (
        EMBED_DIMS,
        PQ4,
        PQ8,
        PQ_WIDTH_THRESHOLD,
        pq_spec_for,
    )

    assert pq_spec_for(500) is PQ4
    assert pq_spec_for(PQ_WIDTH_THRESHOLD - 1) is PQ4
    assert pq_spec_for(PQ_WIDTH_THRESHOLD) is PQ8
    assert pq_spec_for(50_000_000) is PQ8
    for spec in (PQ4, PQ8):
        assert spec.subs * spec.dims == EMBED_DIMS
        assert spec.codes == 2**spec.bits
        assert spec.per_word * spec.words >= spec.subs
        assert len(spec.cols) == spec.words
        assert spec.index_bytes == 8 * spec.words
    assert PQ4.cols == ("pqcode",) and PQ8.cols == ("pqcode", "pqcode2")
    assert PQ4.index_bytes == 8 and PQ8.index_bytes == 16


def test_pq8_packing_parity_numpy_vs_duckdb_exhaustive_top_byte():
    """The sign-wrap contract behind the 16-byte index: packing eight
    8-bit codes into a BIGINT must produce the SAME int64 in the
    kernel (numpy uint64 accumulate, int64 view) and the oracle
    (DuckDB HUGEINT accumulate, explicit two's-complement wrap) for
    EVERY top-byte value 0..255 — including all 128 that set the sign
    bit — and for random full code arrays. No Spark needed: this pins
    the arithmetic identity both engines rely on."""
    import duckdb
    import numpy as np

    rng = np.random.RandomState(7)
    arrays = [
        [0, 0, 0, 0, 0, 0, 0, t] for t in range(256)
    ] + [rng.randint(0, 256, size=8).tolist() for _ in range(50)]

    def np_pack(codes):
        acc = np.uint64(0)
        for s, c in enumerate(codes):
            acc += np.uint64(c) << np.uint64(8 * s)
        return int(acc.view(np.int64) if hasattr(acc, "view") else acc)

    con = duckdb.connect()
    for codes in arrays:
        # mask to the unsigned range: NumPy deprecates negative-int→uint64
        want = int(
            np.array(
                [np_pack(codes) & 0xFFFFFFFFFFFFFFFF], dtype=np.uint64
            ).view(np.int64)[0]
        )
        rows = ", ".join(f"({s}, {c})" for s, c in enumerate(codes))
        got = con.execute(
            f"""
            SELECT CAST(CASE WHEN h >= 9223372036854775808
                             THEN h - 18446744073709551616
                             ELSE h END AS BIGINT)
            FROM (SELECT SUM(CAST(code_id AS HUGEINT)
                             * (CAST(1 AS HUGEINT) << (8 * sub))) AS h
                  FROM (VALUES {rows}) t(sub, code_id))
            """
        ).fetchone()[0]
        assert got == want, codes
        # and the sign-safe unpack recovers every byte from the int64
        for s, c in enumerate(codes):
            assert ((want >> (8 * s)) & 255) == c, (codes, s)
    con.close()


def test_flat_adc_rerank_pushdown_plan_and_identity(spark):
    """Round 12: the shortlist-id pushdown extends from the persisted
    path to the in-plan flat-ADC rerank family — the raw-vector rerank
    scan carries In(vec_id …) PushedFilters (row-group skipping), and
    results are byte-identical to the un-pushed tail."""
    import re

    from wikid_spark.queries import similarity as S

    df = S._pq_rerank_plan(spark, SF_DIR_SMALL, train_rounds=0, depth=10)
    prev = spark.conf.get("spark.sql.maxMetadataStringLength")
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", prev)
    scans = [
        line
        for line in plan.splitlines()
        if "embeddings.parquet" in line and "vec_id" in line
    ]
    assert any(
        re.search(r"PushedFilters: \[.*In\(vec_id", line) for line in scans
    ), plan[:4000]

    # identity with the un-pushed tail (full raw-vector scan)
    emb = table(spark, SF_DIR_SMALL, "embeddings")
    _, cb, codes, sample = _pq_parts(spark, SF_DIR_SMALL, 0, S.PQ4)
    cands = _pq_adc_cands(codes, _pq_dtab(sample, cb, spec=S.PQ4), S.PQ4)
    short = S._pq_topk(cands, 10).select("query_id", "neighbor_id")
    want = sorted(
        tuple(r) for r in S._pq_exact_rerank(emb, short, sample).collect()
    )
    got = sorted(tuple(r) for r in df.collect())
    assert got == want
