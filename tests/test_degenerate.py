"""Degenerate-corpus sweep: every registered query must run — not
throw — against an EMPTY table set and a SINGLE-ROW table set.

At 100 TB an engine constantly sees empty partitions, empty filter
results, and one-row groups; an operator that divides by a missing
count, calls first() on nothing, or builds an index over zero docs
fails there. The sweep executes each query's full plan (noop-style
collect) on both corpora. Oracle parity is NOT asserted here — the
oracle harness covers value correctness at sf0.01; this certifies
totality on the boundary.
"""

from __future__ import annotations

import pathlib

import duckdb
import pytest

from wikid_spark.catalog import TABLES
from wikid_spark.registry import all_queries

SRC = "/root/testdata/sf0.001"


def _shrink(out_dir: pathlib.Path, limit: int) -> str:
    out_dir.mkdir(parents=True, exist_ok=True)
    con = duckdb.connect()
    for t in TABLES:
        # ORDER BY 1 so the single-row corpus is deterministic.
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{SRC}/{t}.parquet') "
            f"ORDER BY 1 LIMIT {limit}) "
            f"TO '{out_dir}/{t}.parquet' (FORMAT PARQUET)"
        )
    con.close()
    return str(out_dir)


@pytest.fixture(scope="session")
def empty_sf_dir(tmp_path_factory):
    return _shrink(tmp_path_factory.mktemp("sf_empty"), 0)


@pytest.fixture(scope="session")
def single_sf_dir(tmp_path_factory):
    return _shrink(tmp_path_factory.mktemp("sf_single"), 1)


@pytest.mark.parametrize(
    "name",
    [
        # the 19-method report costs ~58 s to build twice on degenerate
        # corpora — soak-marked (VERDICT r16 #3); every method it
        # composes keeps its own degenerate param in the default run
        pytest.param(n, marks=pytest.mark.soak)
        if n == "sim_recall_report"
        else n
        for n in sorted(all_queries())
    ],
)
def test_degenerate_corpora(spark, empty_sf_dir, single_sf_dir, name):
    spec = all_queries()[name]
    for sf_dir in (empty_sf_dir, single_sf_dir):
        rows = spec.fn(spark, sf_dir).collect()
        assert rows is not None  # ran to completion; emptiness is fine


@pytest.mark.parametrize("branch", ["kernel", "jvm"])
def test_assign_blas_empty_centroids_fails_loudly(spark, branch):
    """Round-7 regression: cogrouping a non-empty vector slice with an
    EMPTY centroid table (K=0) used to assign via an empty Series,
    which index-aligns to NaN and dies later with an opaque
    Arrow/bigint cast error. The guard raises naming the condition
    instead — on both routes: the all-JVM twin used to return a null
    cent_id (top_m=1) or drop every row (top_m=2) where the kernel
    raised."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import (
        PythonException,
        SparkRuntimeException,
    )

    from wikid_spark.queries.similarity import _assign_blas

    vecs = spark.createDataFrame(
        [(1, [1, 2]), (2, [3, 4])], "vec_id long, qemb array<long>"
    )
    cents = spark.createDataFrame([], "cent_id long, cemb array<long>")
    # an upper bound on K past the routing crossover forces the kernel
    size = {"n_rows": 2, "k": 10**7 if branch == "kernel" else 1}
    plan = _assign_blas(vecs, cents, **size)._jdf.queryExecution()
    assert ("FlatMapCoGroupsInPandas" in plan.analyzed().toString()) == (
        branch == "kernel"
    )
    raised, where = {
        "kernel": (PythonException, "_assign_blas"),
        "jvm": (SparkRuntimeException, "_assign_jvm"),
    }[branch]
    for top_m in (1, 2):
        with _pytest.raises(raised, match=rf"{where}: .*\(K=0\)"):
            _assign_blas(vecs, cents, top_m=top_m, **size).collect()

    # And the sane K=1 case still assigns every row to that centroid.
    one = spark.createDataFrame([(0, [0, 0])], "cent_id long, cemb array<long>")
    got = {
        r["vec_id"]: r["cent_id"]
        for r in _assign_blas(vecs, one, **size).collect()
    }
    assert got == {1: 0, 2: 0}
