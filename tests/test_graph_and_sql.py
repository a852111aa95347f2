"""Graph traversal over the edges table + the spark.sql query surface."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from wikid_spark.catalog import register_views
from wikid_spark.operators.graph import edge_type_histogram, k_hop_neighbors
from wikid_spark.registry import get


@pytest.fixture(scope="module")
def edges(spark):
    # Q1 -P31-> Q2 -P279-> Q3 -P279-> Q4 ; Q1 -P17-> Q5 ; cycle Q4 -> Q1
    rows = [
        ("P31", "Q1", "Q2"),
        ("P279", "Q2", "Q3"),
        ("P279", "Q3", "Q4"),
        ("P17", "Q1", "Q5"),
        ("P361", "Q4", "Q1"),
    ]
    return spark.createDataFrame(
        rows, "property_id string, src string, dst string"
    )


def test_k_hop_out(spark, edges):
    start = spark.createDataFrame([("Q1",)], "id string")
    got = {r["id"]: r["hop"] for r in k_hop_neighbors(edges, start, k=2).collect()}
    assert got == {"Q2": 1, "Q5": 1, "Q3": 2}


def test_k_hop_min_hop_and_cycle(spark, edges):
    start = spark.createDataFrame([("Q1",)], "id string")
    got = {r["id"]: r["hop"] for r in k_hop_neighbors(edges, start, k=4).collect()}
    # Q1 reachable via the Q4->Q1 cycle at hop 4; every node min-hop
    assert got == {"Q2": 1, "Q5": 1, "Q3": 2, "Q4": 3, "Q1": 4}


def test_k_hop_in_direction(spark, edges):
    start = spark.createDataFrame([("Q3",)], "id string")
    got = {r["id"]: r["hop"] for r in k_hop_neighbors(edges, start, k=2, direction="in").collect()}
    assert got == {"Q2": 1, "Q1": 2}


def test_edge_histogram(edges):
    got = {r["property_id"]: r["n_edges"] for r in edge_type_histogram(edges).collect()}
    assert got == {"P31": 1, "P279": 2, "P17": 1, "P361": 1}


def test_spark_sql_surface_matches_dataframe(spark, sf_dir):
    """The engine's SQL entry point: register_views + spark.sql produce
    the same result as the DataFrame program (Q02 shape)."""
    register_views(spark, sf_dir)
    sql = spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS count_order,
               ROUND(SUM(l_quantity), 2) AS sum_qty
        FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    )
    df = get("q02_pricing_summary").fn(spark, sf_dir).select(
        "l_returnflag", "l_linestatus", "count_order", "sum_qty"
    )
    assert sorted(map(tuple, sql.collect())) == sorted(map(tuple, df.collect()))


def test_pagerank_mass_conservation(spark):
    """On a symmetric (no-dangling) graph, total rank mass stays 1 per
    iteration; uniform-degree components converge toward uniform rank."""
    import pyspark.sql.functions as F

    from wikid_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("c", "a"), ("a", "c")],
        "src string, dst string",
    )
    r = pagerank(edges, iters=3)
    total = r.agg(F.sum("rank")).first()[0]
    assert abs(total - 1.0) < 1e-9
    # fully symmetric triangle → exactly uniform ranks
    vals = [row["rank"] for row in r.collect()]
    assert max(vals) - min(vals) < 1e-12


def test_connected_components_multi_component_chain(spark):
    """Two components, one a 4-chain (radius 3 from its min node):
    3 iterations must label it fully; singleton edge-pair stays apart."""
    from wikid_spark.operators.graph import connected_components

    e0 = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    edges = e0.union(e0.selectExpr("dst as src", "src as dst"))
    got = {
        r["id"]: r["label"] for r in connected_components(edges, iters=3).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_converged_deep_chain(spark):
    """A 12-node chain (radius 11 from its min node) — far past the
    fixed 3-iteration bound. The converged variant must label it fully
    via its driver fixpoint probe, with periodic checkpoints bounding
    lineage along the way, and leave a separate pair untouched."""
    from wikid_spark.operators.graph import connected_components_converged

    chain = [(i, i + 1) for i in range(1, 12)] + [(100, 101)]
    e0 = spark.createDataFrame(chain, "src long, dst long")
    edges = e0.union(e0.selectExpr("dst as src", "src as dst"))
    got = {
        r["id"]: r["label"]
        for r in connected_components_converged(edges, checkpoint_every=3).collect()
    }
    assert got == {**{i: 1 for i in range(1, 13)}, 100: 100, 101: 100}


def test_converged_probe_covers_final_rounds(spark):
    """Convergence must be observable even when max_iters is not a
    multiple of checkpoint_every (rounds clamp UP to the next probe
    boundary) and when checkpoint_every exceeds max_iters — both
    previously raised despite the graph converging in time."""
    import pytest

    from wikid_spark.operators.graph import connected_components_converged

    chain = [(i, i + 1) for i in range(1, 5)]  # radius 4 from node 1
    e0 = spark.createDataFrame(chain, "src long, dst long")
    edges = e0.union(e0.selectExpr("dst as src", "src as dst"))

    # converges in round 4; probes land at 3 and 6 (clamped past max_iters=4)
    got = {
        r["id"]: r["label"]
        for r in connected_components_converged(
            edges, checkpoint_every=3, max_iters=4
        ).collect()
    }
    assert got == {i: 1 for i in range(1, 6)}

    # checkpoint_every > max_iters: single probe at round checkpoint_every
    got2 = {
        r["id"]: r["label"]
        for r in connected_components_converged(
            edges, checkpoint_every=7, max_iters=4
        ).collect()
    }
    assert got2 == got

    # a genuinely-too-deep graph still raises: budget 2 (+1 confirming
    # window = 4 rounds), radius 4 → last probe window still changing
    with pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components_converged(edges, checkpoint_every=2, max_iters=2)
    with pytest.raises(ValueError):
        connected_components_converged(edges, checkpoint_every=0)
    with pytest.raises(ValueError):
        connected_components_converged(edges, max_iters=0)


def _write_docs_sf(tmp_path, texts):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "sf"
    d.mkdir()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"]:
        os.symlink(f"/root/testdata/sf0.01/{t}.parquet", d / f"{t}.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(1, len(texts) + 1), pa.int64()),
                "text": pa.array(texts),
                "lang": pa.array(["en"] * len(texts)),
                "source": pa.array(["t"] * len(texts)),
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        d / "documents.parquet",
    )
    return str(d)


def _bpe_reference(docs, rounds):
    """Pure-Python BPE trainer: overlapping adjacent pair counts, winner
    = (max count, lexicographically smallest (x, y)), greedy leftmost
    non-overlapping application per doc."""
    seqs = [t.split(" ") for t in docs]
    merges = []
    for _ in range(rounds):
        counts = {}
        for s in seqs:
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + 1
        if not counts:
            break
        (x, y), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((x, y, cnt))
        out_seqs = []
        for s in seqs:
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == x and s[i + 1] == y:
                    out.append(x + "~" + y)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            out_seqs.append(out)
        seqs = out_seqs
    return merges


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_bpe_matches_python_reference_on_random_corpora(
    spark, tmp_path, seed
):
    """The sentinel-replace BPE trainer must agree with a direct
    Python implementation of the algorithm (Sennrich et al. 2016:
    overlapping pair counts, greedy leftmost merge) on randomized
    corpora from a tiny alphabet — the regime where merged symbols
    immediately re-enter the statistics and prefix-collision bugs
    would surface."""
    import random

    from wikid_spark.registry import get

    rng = random.Random(seed)
    docs = [
        " ".join(rng.choice("ab c aa b".split()) for _ in range(rng.randint(1, 12)))
        for _ in range(8)
    ]
    want = [
        (i + 1, x, y, cnt)
        for i, (x, y, cnt) in enumerate(_bpe_reference(docs, 3))
    ]
    sf = _write_docs_sf(tmp_path, docs)
    got = [tuple(r) for r in get("tx_bpe_merges").fn(spark, sf).collect()]
    assert got == want


@pytest.mark.parametrize("seed", [0, 1])
def test_lloyd_matches_numpy_reference(spark, tmp_path, seed):
    """sim_kmeans_lloyd against a direct numpy Lloyd step on random
    embeddings: same deterministic seed-centroid choice, integer-L2
    argmin with (dist, cent_id) ties, floor(S/n) re-centering."""
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wikid_spark.registry import get

    rng = np.random.default_rng(seed)
    n, dim, k = 60, 64, 20
    emb = rng.standard_normal((n, dim)).astype(np.float32)
    d = tmp_path / "sf"
    d.mkdir()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents"]:
        os.symlink(f"/root/testdata/sf0.01/{t}.parquet", d / f"{t}.parquet")
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n), pa.int64()),
                "embedding": pa.array(
                    [list(map(float, row)) for row in emb],
                    pa.list_(pa.float32()),
                ),
                "label": pa.array([0] * n, pa.int32()),
            }
        ),
        d / "embeddings.parquet",
    )

    q = np.floor(emb.astype(np.float64) * 1000.0).astype(np.int64)
    h = ((np.arange(n) % 100_000_007) * 1_103_515_245 + 12_345) % 2_147_483_648
    seeds = np.lexsort((np.arange(n), h))[:k]
    cents = {int(c): q[c] for c in sorted(map(int, seeds))}

    def assign(table):
        out = {}
        for v in range(n):
            best = min(
                (int(((q[v] - c) ** 2).sum()), cid) for cid, c in table.items()
            )
            out[v] = best[1]
        return out

    a1 = assign(cents)
    newc = {}
    for cid in cents:
        members = [v for v, c in a1.items() if c == cid]
        if members:
            s = q[members].sum(axis=0)
            newc[cid] = np.floor(s.astype(np.float64) / len(members)).astype(
                np.int64
            )
    a2 = assign(newc)
    want = sorted(
        (
            cid,
            sum(1 for c in a1.values() if c == cid),
            sum(1 for c in a2.values() if c == cid),
            int(((cents[cid] - newc[cid]) ** 2).sum()),
            int(newc[cid][0]),
            int(newc[cid][1]),
        )
        for cid in newc
    )
    got = [tuple(r) for r in get("sim_kmeans_lloyd").fn(spark, str(d)).collect()]
    assert got == want


def test_cdc_chunks_survive_mid_document_insertion(spark, tmp_path):
    """The content-defined property: boundaries depend only on a local
    token window, so inserting a paragraph mid-document re-aligns
    every chunk outside the edit — most of the original chunk hashes
    survive verbatim. (Fixed-size chunking would shift every boundary
    after the edit and share only the prefix.)"""
    import random

    from wikid_spark.registry import get

    rng = random.Random(7)
    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    base = [rng.choice(words) for _ in range(400)]
    edited = base[:200] + ["INSERTED", "PARAGRAPH", "HERE"] + base[200:]
    sf = _write_docs_sf(tmp_path, [" ".join(base), " ".join(edited)])
    rows = get("pp_cdc_chunking").fn(spark, sf).collect()
    from collections import Counter

    a = Counter(r["chunk_hash"] for r in rows if r["doc_id"] == 1)
    b = Counter(r["chunk_hash"] for r in rows if r["doc_id"] == 2)
    shared = sum((a & b).values())
    assert shared / sum(a.values()) >= 0.8


def test_cdc_boundary_hash_uses_whole_window(spark, tmp_path):
    """Non-degeneracy of the boundary hash: with an even Horner base
    (2^16) every non-final term vanished mod the power-of-two divisor,
    so the boundary rule silently collapsed to th[last] % 8 == 0 —
    one token, not the window. Pin both directions: the boundaries the
    query emits match a pure-Python full-window reference, AND they
    differ from the degenerate last-token-only rule."""
    import hashlib
    import random

    from wikid_spark.queries.pipeline import (
        CDC_BASE,
        CDC_DIVISOR,
        CDC_WINDOW,
    )
    from wikid_spark.registry import get

    rng = random.Random(42)
    words = "alpha beta gamma delta epsilon zeta eta theta".split()
    toks = [rng.choice(words) for _ in range(400)]
    sf = _write_docs_sf(tmp_path, [" ".join(toks)])

    def th(w):
        return int(hashlib.md5(w.encode()).hexdigest()[:4], 16)

    h = [th(w) for w in toks]
    # 1-based boundary positions i in [2, len-2]; window is i-1 .. i+1.
    want, degenerate = set(), set()
    for i in range(2, len(toks) - 1):
        acc = 0
        for j in range(CDC_WINDOW):
            acc = acc * CDC_BASE + h[(i - 1 + j) - 1]
        if acc % CDC_DIVISOR == 0:
            want.add(i)
        if h[(i + 1) - 1] % CDC_DIVISOR == 0:
            degenerate.add(i)

    rows = sorted(
        get("pp_cdc_chunking").fn(spark, sf).collect(),
        key=lambda r: r["chunk_idx"],
    )
    got, cum = set(), 0
    for r in rows[:-1]:  # last chunk's end is len-1, not a boundary
        cum += r["n_tok"]
        got.add(cum - 1)  # bpos (1-based): chunk ends AT the boundary
    assert got == want
    assert got != degenerate  # the whole window matters now


def _bpe_wf_reference(docs, rounds):
    """Pure-Python (word, freq) BPE trainer: character-level start,
    freq-weighted overlapping pair counts, winner = (max count,
    lexicographically smallest (x, y)), greedy leftmost application —
    the semantics tx_bpe_wordfreq distributes."""
    from collections import Counter

    freqs = Counter(w for t in docs for w in t.split(" ") if w)
    seqs = {w: list(w) for w in freqs}
    merges = []
    for _ in range(rounds):
        counts = {}
        for w, f in freqs.items():
            s = seqs[w]
            for a, b in zip(s, s[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (x, y), cnt = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((x, y, cnt))
        for w, s in seqs.items():
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == x and s[i + 1] == y:
                    out.append(x + "~" + y)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            seqs[w] = out
    return merges


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_bpe_wordfreq_matches_weighted_reference(spark, tmp_path, seed):
    """tx_bpe_wordfreq against the Python (word, freq) trainer on
    random corpora with heavy word repetition — the weighting regime:
    a frequent short word must outvote many distinct rare words, which
    only happens if pair counts carry the freq column."""
    import random

    from wikid_spark.registry import get

    rng = random.Random(100 + seed)
    vocab = ["abab", "ba", "aab", "bbb", "ab", "a", "baba"]
    docs = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 30)))
        for _ in range(10)
    ]
    want = [
        (i + 1, x, y, cnt)
        for i, (x, y, cnt) in enumerate(_bpe_wf_reference(docs, 20))
    ]
    sf = _write_docs_sf(tmp_path, docs)
    got = [tuple(r) for r in get("tx_bpe_wordfreq").fn(spark, sf).collect()]
    assert got == want


def test_bpe_wordfreq_equals_expanded_corpus_training(spark, tmp_path):
    """The collapse is lossless: training on (word, freq) must learn
    the same rules as the raw-corpus reference run over a corpus where
    the same words appear with very different multiplicities."""
    from wikid_spark.registry import get

    docs = ["aa aa aa b", "aa b b ab", "ab ab ab ab aa"]
    want = [
        (i + 1, x, y, cnt)
        for i, (x, y, cnt) in enumerate(_bpe_wf_reference(docs, 8))
    ]
    sf = _write_docs_sf(tmp_path, docs)
    got = [tuple(r) for r in get("tx_bpe_wordfreq").fn(spark, sf).collect()]
    assert got[: len(want)] == want


def test_lloyd_train_converges_and_early_stops(spark):
    """lloyd_train on well-separated clusters must reach the exact
    integer fixpoint before the round cap, stop doing corpus passes
    (trace shorter than max_rounds without padding), end with
    max_shift 0, and place one centroid per true cluster."""
    import random

    from wikid_spark.queries.similarity import (
        _centroids,
        lloyd_train,
        quantize_embedding,
    )
    import pyspark.sql.functions as F

    rng = random.Random(7)
    centers = [[10.0] * 32 + [0.0] * 32, [0.0] * 32 + [10.0] * 32]
    rows = []
    for i in range(60):
        c = centers[i % 2]
        rows.append(
            (i, [v + rng.uniform(-0.5, 0.5) for v in c])
        )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    vecs = emb.select(
        "vec_id", quantize_embedding(F.col("embedding")).alias("qemb")
    )
    cents, trace = lloyd_train(
        vecs, _centroids(emb, k=4), max_rounds=20, tol=0, n_rows=len(rows)
    )
    assert len(trace) < 20, trace  # early-stopped: no padded rows
    last = trace[-1]
    assert last[2] == 0 and last[3] == 0  # exact fixpoint
    # strictly decreasing total shift up to the fixpoint
    totals = [t[3] for t in trace]
    assert all(a >= b for a, b in zip(totals, totals[1:]))
    # every final centroid sits on one of the two true clusters
    got = cents.collect()
    assert 2 <= len(got) <= 4
    for r in got:
        first_half = sum(r["cemb"][:32]) / 32
        second_half = sum(r["cemb"][32:]) / 32
        assert (first_half > 9000 and second_half < 1000) or (
            first_half < 1000 and second_half > 9000
        ), r["cemb"][:4]


def test_bpe_encode_heldout_oov_never_drops_words(spark, tmp_path):
    """Trained-tokenizer serving (the first production use the train-
    corpus oracle can't see): train the vocab on corpus A, encode a
    HELD-OUT corpus B containing words A never saw. Contract: no word
    is ever dropped (per-doc n_words == whitespace token count), OOV
    words fall back to per-character tokens (length(w) each), and
    n_oov counts exactly the out-of-vocab occurrences."""
    from wikid_spark.catalog import table as cat_table
    from wikid_spark.queries.textstats import (
        _bpe_wf_train,
        bpe_encode_with_vocab,
    )

    train_docs = ["aa ab aa b", "ab ab aa bb", "aa aa ab b bb"]
    held_out = [
        "aa zzz ab qqqq",          # 2 in-vocab, 2 novel words
        "xyzzy aa",                # 1 novel, 1 in-vocab
        "aa ab b bb",              # fully in-vocab
        "mmmmm nn",                # fully novel
    ]
    sf = _write_docs_sf(tmp_path, train_docs)
    _, vocab = _bpe_wf_train(cat_table(spark, sf, "documents"), 5)
    ntok = {
        r["w"]: r["n_tok"]
        for r in vocab.selectExpr(
            "w",
            "size(split(btrim(s, chr(31)), chr(31) || chr(31))) AS n_tok",
        ).collect()
    }
    docs_b = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(held_out)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens"], r["n_oov"])
        for r in bpe_encode_with_vocab(vocab, docs_b).collect()
    }
    for i, t in enumerate(held_out, start=1):
        words = [w for w in t.split(" ") if w]
        want_tokens = sum(ntok.get(w, len(w)) for w in words)
        want_oov = sum(1 for w in words if w not in ntok)
        assert got[i] == (len(words), want_tokens, want_oov), (i, t)
    assert got[3][2] == 0 and got[4][2] == len(held_out[3].split())


def test_bpe_encode_train_corpus_has_zero_oov(spark, tmp_path):
    """Encoding the corpus the vocab was trained on is the old
    (inner-join) behavior exactly: n_oov is identically zero, so the
    left-join fallback cannot perturb the train-corpus numbers."""
    from wikid_spark.registry import get

    docs = ["aa ab aa b", "ab ab aa bb", "aa aa ab b bb xyz"]
    sf = _write_docs_sf(tmp_path, docs)
    rows = get("tx_bpe_encode").fn(spark, sf).collect()
    assert len(rows) == len(docs)
    assert all(r["n_oov"] == 0 for r in rows)
    assert all(r["n_words"] == len(d.split()) for r, d in
               zip(sorted(rows, key=lambda r: r["doc_id"]), docs))
