"""Capture .explain("formatted") for registered queries into plans/<tag>/.

Usage: python tools/capture_plans.py <tag> <suffix> [name ...]
  tag     — subdirectory under plans/ (e.g. r16)
  suffix  — appended to the file stem (e.g. before / after)
  names   — query names; default = the bench HEADLINE list.

Writes plans/<tag>/<query>_<suffix>.txt. Building a DataFrame runs any
driver-side build work the query does (Lloyd training, BPE rounds), so
this is also a smoke test that every named query still constructs.
The corpus is read from $SPARK_GRAFT_SF_DIR (default sf0.1).

The written text is normalised (`normalise`): expression ids (#123,
#45L), exchange plan ids (plan_id=7) and checkpoint RDD ids
(MapPartitionsRDD[1666]) are renumbered in order of first appearance,
so two captures of the same plan diff empty and a before/after pair
diffs only where the plan itself changed.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE
from wikid_spark.registry import all_queries
from wikid_spark.session import get_spark


_IDS = (
    re.compile(r"#(\d+)"),
    re.compile(r"plan_id=(\d+)"),
    re.compile(r"RDD\[(\d+)\]"),
)


def normalise(plan: str) -> str:
    """Renumber the per-capture ids of an explain string: each id
    pattern counts from 0 in order of first appearance, so identical
    plans render identically while distinct ids stay distinct."""
    for pat in _IDS:
        seen: dict[str, int] = {}

        def renum(m, seen=seen):
            n = seen.setdefault(m.group(1), len(seen))
            return m.group(0)[: m.start(1) - m.start(0)] + str(n)

        plan = pat.sub(renum, plan)
    return plan


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r16"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or HEADLINE
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", tag
    )
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="capture_plans")
    spark.sparkContext.setLogLevel("ERROR")
    specs = all_queries()
    for name in names:
        print(f"plan: {name}", file=sys.stderr, flush=True)
        df = specs[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as fh:
            fh.write(normalise(plan))
    spark.stop()


if __name__ == "__main__":
    main()
