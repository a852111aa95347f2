#!/usr/bin/env python3
"""wikid_spark benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload corpus_build --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The run generates its inputs from the
seed under ``.perfbench_work/`` (removed on exit), starts Spark on
``local[<cores>]``, sets up (index builds and warm-up, independent steps
on threads of their own, billed to ``setup_s``), then runs closed-loop
passes with one client thread until ``--seconds`` have elapsed, at least
one. Outputs are checked after the timed region.

Workloads:
  corpus_build  the wiki ETL stages over seeded dumps, one cold
                build+exec of a registry query per queries module, then
                one seeded micro-batch streamed through the LSH / vector
                verdict writers and the FTS append, and a compaction;
                memos and index caches are emptied before each pass.
  serve         warm persisted ANN / FTS indexes; each pass is a seeded
                interleaving of one ann, hybrid and profile request and
                two fts requests.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs with job
groups and the Spark event log on and prints the per-layer metrics. The
line before the result holds the per-workload detail: named latencies,
per-layer table, cache states and check outcomes.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("corpus_build", "serve")


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _start_spark(work: str, trace: bool):
    """The program's own session factory, confined to ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(_cores()),
        SPARK_GRAFT_DRIVER_MEM="2g",
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    submit = ""
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        submit = (
            "--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{log_dir} "
            "--conf spark.eventLog.compress=false "
        )
    submit += "--conf spark.ui.showConsoleProgress=false "
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit + "pyspark-shell"
    tempfile.tempdir = tmp
    from wikid_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def _peak_rss_mb(spark) -> float:
    """Peak resident set of the driver Python plus the driver JVM."""
    pids = [os.getpid()]
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        pids.append(proc.pid)
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    kb += int(line.split()[1])
    return kb / 1024.0


def _tail(values: list[float]) -> dict:
    """Highest percentile with at least ten samples above it."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return {"value": v[-1] if v else 0.0, "percentile": 100.0, "n": n,
                "note": "fewer than 11 samples: maximum"}
    i = n - 11
    return {"value": v[i], "percentile": round(100.0 * (i + 1) / n, 1), "n": n}


def _concurrently(*fns) -> None:
    """Run set-up or check steps on threads of their own and re-raise the
    first failure. Both are driver-bound (small jobs, one core busy at a
    time), so independent steps overlap; the timed region stays one
    client."""
    errors = []

    def guard(fn):
        try:
            fn()
        except BaseException as e:  # re-raised on the calling thread
            errors.append(e)

    threads = [threading.Thread(target=guard, args=(fn,)) for fn in fns]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def _log(t_start: float, what: str) -> None:
    print(f"perfbench: {time.perf_counter() - t_start:7.1f}s {what}", file=sys.stderr, flush=True)


def run(args, work: str, t_start: float) -> tuple[dict, dict]:
    from perfbench import datagen, layers
    from perfbench import workloads as W

    trace = bool(args.trace)
    spark = _start_spark(work, trace)
    _log(t_start, "spark started")
    ctx = None
    try:
        sf = os.path.join(work, "tables")
        texts, vectors = datagen.write_tables(sf, args.seed)
        rec = layers.Recorder(spark, trace)
        ctx = W.Ctx(spark, rec, sf, work, random.Random(f"{args.seed}:requests"), args.seed)
        cache_log: list[dict] = []
        _log(t_start, "tables written")
        W.start_oracles(ctx, W.CORPUS_QUERIES if args.workload == "corpus_build"
                        else (W.ANN_QUERY, W.HYBRID_QUERY) + W.PROFILE_QUERIES)
        if args.workload == "corpus_build":
            ctx.manifest = datagen.write_dumps(
                os.path.join(work, "dumps"), args.seed, shards=_cores()
            )

            def one_pass(timed):
                cache_log.append(W.make_cold())
                ctx.feed.write()
                rec.start_pass(timed)
                W.etl_pass(ctx)
                W.corpus_pass(ctx)
                W.ingest_pass(ctx)
                return rec.end_pass()

            # Warm-up: one untimed run of the ETL stages and of the cold
            # queries, beside the index persist (the ingest batch needs no
            # warm-up once the JVM is warm, and the twin would have to
            # replay it). The two slowest cold queries get a thread of
            # their own.
            W.make_cold()
            rec.start_pass(timed=False)
            slow, rest = W.CORPUS_QUERIES[:2], W.CORPUS_QUERIES[2:]
            _concurrently(lambda: (W.etl_pass(ctx), W.corpus_pass(ctx, rest)),
                          lambda: W.corpus_pass(ctx, slow),
                          lambda: W.ingest_setup(ctx, texts, vectors))
            rec.end_pass()
            _log(t_start, "warm-up pass, streaming indexes persisted")
        else:
            W.serve_setup(ctx, _concurrently, random.Random(f"{args.seed}:warm-up"))
            _log(t_start, "indexes built")
            # One untimed pass: the first pass after set-up still runs
            # about 15% slower while the JVM compiles its request paths.
            rec.start_pass(timed=False)
            W.serve_pass(ctx)
            rec.end_pass()
            ctx.warm = W.warm_state()

            def one_pass(timed):
                cache_log.append(W.cache_state())
                rec.start_pass(timed)
                W.serve_pass(ctx)
                return rec.end_pass()
        W.join_oracles(ctx)
        setup_s = time.perf_counter() - t_start
        deadline = time.perf_counter() + args.seconds
        while True:
            one_pass(True)
            _log(t_start, "timed pass")
            if time.perf_counter() >= deadline:
                break
        peak_rss = _peak_rss_mb(spark)
        if trace:
            rec.count_jobs()

        _log(t_start, "timed region done")
        timed_cache = cache_log[-len(rec.timed_passes()):]
        if args.workload == "corpus_build":
            _concurrently(lambda: W.corpus_build_checks(ctx, timed_cache),
                          lambda: W.ingest_checks(ctx, _concurrently))
        else:
            W.serve_checks(ctx)
        _log(t_start, "checks done")
    finally:
        if ctx is not None:
            W.join_oracles(ctx)
        _stop_spark(spark)
    _log(t_start, "spark stopped")

    if trace:
        layers.reduce_event_log(os.path.join(work, "eventlog"), rec)
    return _report(args, ctx, rec, setup_s, peak_rss, timed_cache, trace)


def _report(args, ctx, rec, setup_s, peak_rss, timed_cache, trace):
    from perfbench import layers
    from perfbench import workloads as W
    from perfbench.layers import median

    passes = rec.timed_passes()
    calls = rec.timed_calls()
    n = len(passes)
    idx = [i for i, p in enumerate(rec.passes) if p["timed"]]

    def per_pass(key, pred=lambda c: True):
        return [sum(c[key] for c in calls if c["pass"] == i and pred(c)) for i in idx]

    wall = [p["wall_s"] for p in passes]
    named = {
        "wall_s": (median(wall), "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_rss, "MB"),
    }
    m = ctx.manifest
    tails = {}
    if args.workload == "corpus_build":
        wd = per_pass("s", lambda c: c["layer"] in ("plans.wiki.parse_wikidata_core", "plans.wiki.stage1_outputs"))
        wp = per_pass("s", lambda c: c["layer"] == "plans.wiki.wikipedia_link_counts")
        named["wikidata_lines_per_s"] = (m["wikidata_lines"] / median(wd), "lines/s")
        named["wikipedia_lines_per_s"] = (m["wikipedia_lines"] / median(wp), "lines/s")
        batch = per_pass("s", lambda c: c["layer"] in W.BATCH_LAYERS)
        named["batch_p50_s"] = (median(batch), "s")
        tails["batch_tail_s"] = _tail(batch)
        named["batch_tail_s"] = (tails["batch_tail_s"]["value"], "s")
        named["rows_per_s"] = (ctx.feed.size / max(median(batch), 1e-9), "rows/s")
    if args.workload == "serve":
        for kind, lat in sorted(ctx.latencies.items()):
            named[f"{kind}_p50_s"] = (median(lat), "s")
            if kind in ("ann", "fts"):
                tails[f"{kind}_tail_s"] = _tail(lat)
                named[f"{kind}_tail_s"] = (tails[f"{kind}_tail_s"]["value"], "s")

    share = [layer / p["wall_s"] for layer, p in zip(per_pass("s"), passes)]
    ctx.check("layers.cover_pass_wall", min(share) >= 0.9,
              f"timed layer calls cover {min(share):.4f} of a pass at least")
    failed_checks = sum(not ok for ok, _ in ctx.checks.values())
    failed_calls = sum(not c["ok"] for c in calls)
    attempted = len(calls) + len(ctx.checks)
    named["failed_ratio"] = ((failed_calls + failed_checks) / attempted, "fraction")

    suffixes = ("s", "build_s", "exec_s", "jobs", "tasks", "driver_only_s",
                "python_worker_s", "shuffle_bytes")
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": int(trace),
        "cores": _cores(),
        "timed_passes": n,
        "index_cache": timed_cache[-1] if timed_cache else {},
        "index_cache_per_pass": timed_cache,
        "layer_share": share,
        "named_metrics": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
        "tails": tails,
        "layers": dict(layers.layer_table(rec, suffixes), **ctx.layer_state),
        "checks": {k: {"ok": ok, "detail": d} for k, (ok, d) in ctx.checks.items()},
    }

    if trace:
        metrics = {
            "traced_wall_s": (median(wall), "s"),
            "traced_build_s": (median(per_pass("build_s")), "s"),
            "traced_exec_s": (median(per_pass("exec_s")), "s"),
            "jobs": (median([p["jobs"] for p in passes]), "count"),
            "tasks": (median([p["tasks"] for p in passes]), "count"),
            "driver_only_s": (median([p["driver_only_s"] for p in passes]), "s"),
            "shuffle_bytes": (median([p["shuffle_bytes"] for p in passes]), "bytes"),
            "executor_run_s": (median([p["executor_run_s"] for p in passes]), "s"),
        }
    else:
        metrics = {"setup_s": named["setup_s"], "wall_s": named["wall_s"]}
    result = {
        "correct": failed_checks == 0,
        "attempted": attempted,
        "failed": failed_calls + failed_checks,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return detail, result


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _args(argv)
    sys.path.insert(0, ROOT)
    try:
        import pyspark  # noqa: F401

        import tools.gen_dumps  # noqa: F401
        import wikid_spark.registry  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program under test is not importable here ({e})",
              file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    cwd = os.getcwd()
    os.chdir(work)  # Spark's warehouse and metastore land in the run dir
    try:
        detail, result = run(args, work, t_start)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
