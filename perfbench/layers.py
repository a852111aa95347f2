"""Layer timing from outside the library, and the traced-run reducer.

`Recorder.call` times one call into a library layer, split into build
(constructing the DataFrame on the driver) and exec (the action). With
tracing on it also tags the call's Spark jobs with a job group and
counts them through the StatusTracker; `reduce_event_log` later turns
the Spark event log of the same run into per-call driver-only time,
Python-worker time and shuffle bytes. Tracing off leaves nothing in the
timed region but two clock reads per call.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import statistics
import time
import traceback
from collections import defaultdict


class Recorder:
    def __init__(self, spark, trace: bool):
        self.sc = spark.sparkContext
        self.trace = trace
        self.calls: list[dict] = []
        self.passes: list[dict] = []
        self._pass: int | None = None
        self._groups = itertools.count()  # set-up calls run on several threads

    def start_pass(self, timed: bool) -> None:
        self._pass = len(self.passes)
        self.passes.append({"timed": timed, "t0": time.time(), "p0": time.perf_counter()})

    def end_pass(self) -> float:
        p = self.passes[self._pass]
        p["t1"] = time.time()
        p["wall_s"] = time.perf_counter() - p["p0"]
        self._pass = None
        return p["wall_s"]

    def in_timed_pass(self) -> bool:
        return self._pass is not None and self.passes[self._pass]["timed"]

    def call(self, layer: str, build, run=None):
        """Time ``run(build())`` as one call of ``layer``. Returns the
        run's result, or None if the call raised (the call is recorded
        as failed and the traceback goes to stderr)."""
        group = f"perfbench-{next(self._groups)}"
        if self.trace:
            self.sc.setJobGroup(group, layer, False)
        rec = {"layer": layer, "pass": self._pass, "group": group, "ok": True}
        out = None
        rec["t0"] = time.time()
        p0 = time.perf_counter()
        p1 = p0
        try:
            obj = build()
            p1 = time.perf_counter()
            out = run(obj) if run is not None else obj
        except Exception:
            rec["ok"] = False
            traceback.print_exc()
        p2 = time.perf_counter()
        rec["t1"] = time.time()
        if self.trace:
            self.sc._jsc.clearJobGroup()
        rec.update(build_s=p1 - p0, exec_s=p2 - p1, s=p2 - p0)
        self.calls.append(rec)
        return out

    def count_jobs(self) -> None:
        """Fill each traced call's ``jobs`` and ``tasks`` (completed
        tasks of its job group) from the StatusTracker. Called once
        after the timed region, while the tracker still retains every
        job of the run, so the py4j round trips stay out of the timing."""
        st = self.sc.statusTracker()
        for rec in self.timed_calls():
            jobs = st.getJobIdsForGroup(rec["group"])
            tasks = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    stage = st.getStageInfo(sid)
                    tasks += stage.numCompletedTasks if stage else 0
            rec.update(jobs=len(jobs), tasks=tasks)

    def timed_calls(self) -> list[dict]:
        return [c for c in self.calls if c["pass"] is not None and self.passes[c["pass"]]["timed"]]

    def timed_passes(self) -> list[dict]:
        return [p for p in self.passes if p["timed"]]


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def reduce_event_log(log_dir: str, rec: Recorder) -> None:
    """Fold the run's Spark event log into the recorded calls and
    passes: per call ``driver_only_s`` (call wall time with no job of
    the application running), ``python_worker_s`` (SQL metric "time to
    run Python workers"), ``shuffle_bytes`` and ``executor_run_s``;
    per pass ``driver_only_s`` and the same sums."""
    files = sorted(
        f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and os.path.basename(f).startswith(("events_", "local-"))
    )
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    job_span: dict[int, list[float]] = {}
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    sums: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    job_span[jid] = [e["Submission Time"], e["Submission Time"]]
                    job_group[jid] = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
                    for sid in e["Stage IDs"]:
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    job_span[e["Job ID"]][1] = e["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    group = job_group.get(stage_job.get(e["Stage ID"], -1), "")
                    m = e.get("Task Metrics") or {}
                    s = sums[group]
                    s["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    s["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    for acc in e["Task Info"].get("Accumulables", ()):
                        if acc.get("Name") == "time to run Python workers":
                            s["python_worker_s"] += float(acc.get("Update", 0)) / 1000.0
    spans = list(job_span.values())
    keys = ("executor_run_s", "shuffle_bytes", "python_worker_s")
    for c in rec.calls:
        lo, hi = c["t0"] * 1000.0, c["t1"] * 1000.0
        c["driver_only_s"] = (hi - lo - _union_ms(spans, lo, hi)) / 1000.0
        for k in keys:
            c[k] = sums[c["group"]][k]
    for i, p in enumerate(rec.passes):
        lo, hi = p["t0"] * 1000.0, p["t1"] * 1000.0
        p["driver_only_s"] = (hi - lo - _union_ms(spans, lo, hi)) / 1000.0
        mine = [c for c in rec.calls if c["pass"] == i]
        for k in keys + ("jobs", "tasks"):
            p[k] = sum(c.get(k, 0) for c in mine)


def median(values):
    return statistics.median(values) if values else 0.0


def layer_table(rec: Recorder, suffixes: tuple[str, ...]) -> dict[str, float]:
    """``<layer>.<suffix>`` → median over timed passes of the per-pass
    sum of that layer's calls, plus ``<layer>.failed`` (failed calls
    over all timed passes)."""
    timed = [i for i, p in enumerate(rec.passes) if p["timed"]]
    out: dict[str, float] = {}
    for layer in sorted({c["layer"] for c in rec.timed_calls()}):
        mine = [c for c in rec.timed_calls() if c["layer"] == layer]
        for suf in suffixes:
            if suf in mine[0]:
                out[f"{layer}.{suf}"] = median(
                    [sum(c[suf] for c in mine if c["pass"] == i) for i in timed]
                )
        out[f"{layer}.failed"] = sum(not c["ok"] for c in mine)
    return out
