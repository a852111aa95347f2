"""Seeded benchmark inputs: the ten catalog tables and the two wiki dumps.

Everything here is a pure function of the seed: the same seed
writes byte-identical files, a different seed writes different values
with the same row counts and shapes, so per-seed timings compare.

The tables mimic the shapes the registry queries are certified on (a
TPC-H-ish star schema, an ``events`` stream, a closed-vocabulary
``documents`` corpus with near-duplicates, unit-norm 64-dim
``embeddings`` whose ``vec_id`` is a ``doc_id``). The dumps reuse the
entity and page builders of ``tools/gen_dumps.py`` with a per-shard
``random.Random`` derived from the seed; that tool hard-codes its shard
seeds, so it cannot produce a second corpus itself.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = (("en", 0.4), ("de", 0.15), ("fr", 0.15), ("es", 0.15), ("zh", 0.15))
EVENT_TYPES = ("signup", "click", "error", "purchase", "view")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("small", "red", "blue", "cold", "hot", "large", "old", "new")
PART_NOUN = ("ring", "widget", "bolt", "rod", "plate", "gear", "nut", "pipe")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
DIM = 64


@dataclass(frozen=True)
class Scale:
    """Row counts of one benchmark size."""

    documents: int
    embeddings: int
    events: int
    customers: int
    orders: int
    entities: int
    pages: int
    ingest_batch: int  # rows per streamed micro-batch, a multiple of 3

    @property
    def suppliers(self) -> int:
        return max(10, self.customers // 15)

    @property
    def parts(self) -> int:
        return max(20, self.customers * 4 // 3)


# What the benchmark measures: driver-bound build paths dominate at this
# size, so larger inputs would lengthen runs without moving the build
# share the workloads exist to track.
SCALE = Scale(300, 150, 2000, 300, 3000, 800, 320, ingest_batch=24)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _ts_us(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us.astype(np.int64), pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """10-100 words from the closed vocabulary; one doc in ten is a
    near-duplicate of an earlier one (a word or two swapped, one
    marked ``dup``) so the dedup paths have candidates to verify."""
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))
                ]
            words[int(rng.integers(0, len(words)))] = "dup"
        else:
            k = int(rng.integers(10, 101))
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), k)]
        texts.append(" ".join(words))
    return texts


def write_tables(out_dir: str, seed: int) -> tuple[list[str], np.ndarray]:
    """Write the ten catalog tables as single parquet files; return the
    document texts and the float32 embeddings (row ``i`` is doc ``i``)."""
    os.makedirs(out_dir, exist_ok=True)
    r = np.random.default_rng(seed)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })

    nc, ns, np_, no = SCALE.customers, SCALE.suppliers, SCALE.parts, SCALE.orders
    _write(out_dir, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": r.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[j] for j in r.integers(0, 5, nc)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": r.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, ns), 2),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(r.integers(0, 8, np_), r.integers(0, 8, np_))
        ],
        "p_brand": [f"Brand#{j}" for j in r.integers(1, 26, np_)],
        "p_type": [PART_TYPES[j] for j in r.integers(0, 6, np_)],
        "p_size": r.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2),
    })
    day_us = 86_400 * 1_000_000
    order_days = r.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": r.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[j] for j in r.integers(0, 3, no)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _ts_us("1995-01-01", order_days * day_us),
        "o_orderpriority": [PRIORITIES[j] for j in r.integers(0, 5, no)],
    })
    nl = 4 * no
    l_order = r.integers(0, no, nl)
    qty = r.integers(1, 51, nl).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": l_order.astype(np.int64),
        "l_partkey": r.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": r.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": r.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900.0, 2000.0, nl), 2),
        "l_discount": r.integers(0, 11, nl) / 100.0,
        "l_tax": r.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in r.integers(0, 3, nl)],
        "l_linestatus": [("O", "F")[j] for j in r.integers(0, 2, nl)],
        "l_shipdate": _ts_us(
            "1995-01-01", (order_days[l_order] + r.integers(1, 122, nl)) * day_us
        ),
    })

    ne = SCALE.events
    _write(out_dir, "events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _ts_us(
            "2024-01-01", np.sort(r.integers(0, 30 * day_us, ne))
        ),
        "user_id": r.integers(0, max(1, ne // 66), ne).astype(np.int64),
        "event_type": [EVENT_TYPES[j] for j in r.integers(0, 5, ne)],
        "value": np.round(r.exponential(60.0, ne), 2),
        "props": [f'{{"k": {j}}}' for j in r.integers(0, 100, ne)],
    })

    nd = SCALE.documents
    texts = _documents(r, nd)
    langs = [LANGS[j][0] for j in r.choice(5, nd, p=[p for _, p in LANGS])]
    _write(out_dir, "documents", {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    nv = min(SCALE.embeddings, nd)
    vec = r.standard_normal((nv, DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    vec = vec.astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": r.integers(0, 10, nv).astype(np.int32),
    })
    return texts, vec


# --------------------------------------------------------------- wiki dumps


def _entity_kept(ent: dict, meta: set[str]) -> bool:
    """Python twin of the stage-1 keep rule (type filter, negative
    P31/P279 filter with the deprecated-rank exemption, enwiki gate),
    used only to derive the expected output row counts."""
    if ent["type"] != "item" or "enwiki" not in ent["sitelinks"]:
        return False
    for prop in ("P31", "P279"):
        for c in ent["claims"].get(prop, ()):
            qid = c.get("mainsnak", {}).get("datavalue", {}).get("value", {}).get("id")
            if c["rank"] != "deprecated" and qid in meta:
                return False
    return True


def _xml_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def write_dumps(out_dir: str, seed: int, shards: int) -> dict:
    """Write sharded Wikidata NDJSON and Wikipedia XML in the
    ``tools/gen_dumps.py`` layout and return a manifest with exact line
    counts and the expected stage-1 / article row counts."""
    from tools.gen_dumps import WORDS, _entity, _page_text, _title
    from wikid_spark.plans.wiki import WD_META_ITEMS

    meta = set(WD_META_ITEMS)
    wd_dir = os.path.join(out_dir, "wikidata")
    wp_dir = os.path.join(out_dir, "wikipedia")
    os.makedirs(wd_dir, exist_ok=True)
    os.makedirs(wp_dir, exist_ok=True)
    n_ent, n_pages = SCALE.entities, SCALE.pages
    kept: set[int] = set()
    wd_lines = wp_lines = 0
    for shard in range(shards):
        rng = random.Random(f"{seed}:wikidata:{shard}")
        with open(os.path.join(wd_dir, f"part-{shard:04d}.json"), "w") as f:
            f.write("[\n")
            wd_lines += 1
            for i in range(shard, n_ent, shards):
                ent = _entity(i, rng)
                if _entity_kept(ent, meta):
                    kept.add(i)
                f.write(json.dumps(ent, separators=(",", ":")) + ",\n")
                wd_lines += 1
            f.write("]\n")
            wd_lines += 1

    articles = 0
    for shard in range(shards):
        rng = random.Random(f"{seed}:wikipedia:{shard}")
        chunks = ['<mediawiki xml:lang="en">\n']
        for i in range(shard, n_pages, shards):
            r = rng.random()
            title = _title(i)
            if r < 0.05:
                title = f"Template:{WORDS[i % len(WORDS)]} {i}"
                text = "{{documentation}}"
            elif r < 0.08:
                text = f"#REDIRECT [[{_title(rng.randrange(n_ent))}]]"
            elif r < 0.10:
                text = "This page is a disambiguation list.\n* item"
            else:
                text = _page_text(i, rng, n_ent)
                articles += i in kept
            text = _xml_escape(text)
            chunks.append(
                "  <page>\n"
                f"    <title>{_xml_escape(title)}</title>\n"
                "    <ns>0</ns>\n"
                f"    <id>{10_000 + i}</id>\n"
                "    <revision>\n"
                f"      <id>{90_000_000 + i}</id>\n"
                "      <timestamp>2024-01-01T00:00:00Z</timestamp>\n"
                f'      <text bytes="{len(text)}">{text}</text>\n'
                "    </revision>\n"
                "  </page>\n"
            )
        chunks.append("</mediawiki>\n")
        body = "".join(chunks)
        wp_lines += body.count("\n")
        with open(os.path.join(wp_dir, f"part-{shard:04d}.xml"), "w") as f:
            f.write(body)

    return {
        "wikidata_path": wd_dir,
        "wikipedia_path": wp_dir,
        "wikidata_lines": wd_lines,
        "wikipedia_lines": wp_lines,
        "expected_entities": len(kept),
        "expected_articles": articles,
    }


# ------------------------------------------------------------ ingest feed

INGEST_SCHEMA = "doc_id bigint, text string, embedding array<float>"
FRESH_MAX_COSINE = 0.3  # below the vector writer's drop threshold (0.4)


class IngestFeed:
    """Seeded micro-batches for the streaming ingest, one JSON-lines file
    per batch. A batch holds ``SCALE.ingest_batch`` rows with fresh ids,
    a third each of

    * copies: a corpus document's text and vector, which both verdict
      writers must drop;
    * edits: a corpus document with one word swapped for a new token and
      its vector nudged, near-duplicates whose verdicts the never-
      compacted twin decides;
    * fresh: new tokens only, and a vector whose cosine to every earlier
      vector is below ``FRESH_MAX_COSINE``, which both must keep.
    """

    def __init__(self, out_dir: str, seed: int, texts: list[str], vectors: np.ndarray):
        self.dir = out_dir
        self.seed = seed
        self.texts = texts
        self.vectors = vectors
        self.size = SCALE.ingest_batch
        self.known = vectors.astype(np.float64)  # unit rows: every vector so far
        self.kinds: dict[int, str] = {}  # doc_id -> copy | edit | fresh
        self.files: list[str] = []
        os.makedirs(out_dir, exist_ok=True)

    def write(self) -> str:
        """Write the next batch and return its path."""
        batch = len(self.files)
        rng = np.random.default_rng([self.seed, batch])
        rows = []
        third = self.size // 3
        for i in range(self.size):
            doc_id = 1_000_000 + 1000 * batch + i
            kind = ("copy", "edit", "fresh")[min(i // third, 2)]
            src = int(rng.integers(0, len(self.vectors)))
            if kind == "copy":
                text, vec = self.texts[src], self.vectors[src]
            elif kind == "edit":
                words = self.texts[src].split()
                words[int(rng.integers(0, len(words)))] = f"e{self.seed}x{doc_id}"
                text = " ".join(words)
                vec = self.vectors[src] + rng.normal(0.0, 0.01, DIM)
            else:
                k = int(rng.integers(10, 41))
                text = " ".join(f"f{self.seed}x{doc_id}w{j}" for j in range(k))
                while True:
                    vec = rng.standard_normal(DIM)
                    vec /= np.linalg.norm(vec)
                    if (self.known @ vec).max() < FRESH_MAX_COSINE:
                        break
            vec = (np.asarray(vec) / np.linalg.norm(vec)).astype(np.float32)
            self.known = np.vstack([self.known, vec.astype(np.float64)])
            self.kinds[doc_id] = kind
            rows.append({"doc_id": doc_id, "text": text, "embedding": [float(x) for x in vec]})
        path = os.path.join(self.dir, f"batch-{batch:04d}.json")
        with open(path, "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)
        self.files.append(path)
        return path

    def ids(self, kind: str) -> set[int]:
        return {d for d, k in self.kinds.items() if k == kind}
