"""Self-test of the benchmark: one timed pass per run, four runs (about
six minutes on 4 cores).

    python -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

Runs each workload untraced and traced from the checkout root and checks
the result line against BENCHMARK.json, the named metrics, the output
checks (oracles, twins, seeded expectations), the cold/warm cache
assertions and the traced per-layer table.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

NAMED = {
    "corpus_build": ("setup_s", "wall_s", "failed_ratio", "peak_rss_mb",
                     "wikidata_lines_per_s", "wikipedia_lines_per_s",
                     "rows_per_s", "batch_p50_s", "batch_tail_s"),
    "serve": ("setup_s", "wall_s", "failed_ratio", "peak_rss_mb", "ann_p50_s",
              "ann_tail_s", "fts_p50_s", "fts_tail_s", "hybrid_p50_s", "profile_p50_s"),
}
CALL_LAYERS = {
    "corpus_build": (
        "plans.wiki.parse_wikidata_core", "plans.wiki.stage1_outputs",
        "plans.wiki.wikipedia_link_counts", "plans.wiki.wikipedia_articles",
        "queries.similarity.sim_ivf_derived_topk",
        "queries.dedup.nd_incremental_dedup", "queries.textstats.tx_bpe_merges",
        "queries.pipeline.pp_lang_temperature", "queries.extensions.graph_pagerank",
        "streaming.dedup_ingest.verdict_writer", "streaming.vector_ingest.verdict_writer",
        "streaming.fts_ingest.batch_writer", "streaming.evolving_index.compact",
    ),
    "serve": (
        "queries.similarity.serve_persisted_topk", "operators.fts.bm25_persisted",
        "queries.fts.hybrid", "queries.relational.q04", "queries.windows.alias_priors",
    ),
}
STATE_LAYERS = {
    "corpus_build": ("plans.wiki.bytes_written_per_input_byte",
                     "streaming.dedup_ingest.kept_ratio", "streaming.vector_ingest.kept_ratio"),
    "serve": ("catalog.ensure_cached_build.builds",
              "queries.similarity.load_ann_index.hit_ratio"),
}
SUFFIXES = ("s", "build_s", "exec_s", "jobs", "tasks", "driver_only_s",
            "python_worker_s", "shuffle_bytes", "failed")

_RUNS: dict = {}


def _run(workload: str, trace: int, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc


def _result(workload: str, trace: int):
    key = (workload, trace)
    if key not in _RUNS:
        proc = _run(workload, trace)
        assert proc.returncode == 0, proc.stderr[-3000:]
        lines = proc.stdout.strip().splitlines()
        _RUNS[key] = (json.loads(lines[-2]), json.loads(lines[-1]))
    return _RUNS[key]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_end_to_end_metrics(workload):
    detail, result = _result(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"] and got["value"] > 0, m["name"]
    for name in NAMED[workload]:
        assert {"value", "unit"} <= set(detail["named_metrics"][name]), name
    assert detail["named_metrics"]["failed_ratio"]["value"] == 0
    assert all(c["ok"] for c in detail["checks"].values()), detail["checks"]
    assert "layers.cover_pass_wall" in detail["checks"]


def test_ingest_twin_and_expectations():
    detail, _ = _result("corpus_build", 0)
    for name in ("twin.streaming.dedup_ingest.verdict_log",
                 "twin.streaming.vector_ingest.verdict_log",
                 "expect.streaming.dedup_ingest.kept",
                 "expect.streaming.vector_ingest.kept",
                 "twin.streaming.fts_ingest.bm25"):
        assert detail["checks"][name]["ok"], (name, detail["checks"].get(name))
    # copies are dropped and fresh rows kept, so a third to two thirds stays
    for name in ("dedup_ingest", "vector_ingest"):
        assert 1 / 3 <= detail["layers"][f"streaming.{name}.kept_ratio"] <= 2 / 3


def test_cold_and_warm_assertions():
    detail, _ = _result("corpus_build", 0)
    assert detail["checks"]["state.corpus_build_starts_cold"]["ok"]
    assert set(detail["index_cache"].values()) == {"cold"}
    detail, _ = _result("serve", 0)
    assert detail["checks"]["state.serve_builds_no_index"]["ok"]
    assert detail["checks"]["state.serve_loads_no_handle"]["ok"]
    assert detail["index_cache"]["wikid_ann_index"] == "warm"
    assert detail["index_cache"]["wikid_fts_index"] == "warm"
    assert detail["layers"]["catalog.ensure_cached_build.builds"] == 0
    assert detail["layers"]["queries.similarity.load_ann_index.hit_ratio"] == 1.0


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_layers(workload):
    detail, result = _result(workload, 1)
    assert result["correct"] and result["failed"] == 0
    for m in SPEC["per_layer"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
    assert result["metrics"]["jobs"]["value"] > 0
    layers = detail["layers"]
    for layer in CALL_LAYERS[workload]:
        for suf in SUFFIXES:
            assert f"{layer}.{suf}" in layers, f"{layer}.{suf}"
    for name in STATE_LAYERS[workload]:
        assert name in layers, name


def test_refuses_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run("serve", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert "{" not in proc.stdout
