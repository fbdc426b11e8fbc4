"""Plan-shape record of every declared query (`__spark_entry__.queries()`)
built on sf0.01. Per query it records:

  - ``nodes``: the node-name counts of the initial physical plan (AQE's
    plan before any stage runs, subqueries included). Codegen wrappers
    are left out: AQE's initial plan holds none, so only plans without
    an exchange would carry them;
  - ``jobs``: the Spark jobs that building the frame launches before
    the caller acts, counted through a job group.

Neither depends on the session's parallelism. tests/test_plan_shapes.py
rebuilds the record and compares it with the committed file; a change
that alters a plan regenerates it and names the diff in CHANGES.md.
Run: SPARK_GRAFT_CPUS=$(nproc) python scripts/plan_shapes.py
"""

from __future__ import annotations

import json
import os
import sys
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
PATH = os.path.join(REPO, "plans", "shapes.json")
REGENERATE = "SPARK_GRAFT_CPUS=$(nproc) python scripts/plan_shapes.py"


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def node_counts(df) -> dict[str, int]:
    """Node names of ``df``'s initial physical plan, walked on the Java
    tree (children and subquery plans) and counted."""
    counts: Counter = Counter()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append(node.initialPlan())
            continue
        if not name.startswith(("WholeStageCodegen", "InputAdapter")):
            counts[name.strip()] += 1  # a path scan is named "Scan parquet "
        stack.extend(_seq(node.children()) + _seq(node.subqueries()))
    return dict(sorted(counts.items()))


def build(spark) -> dict[str, dict]:
    """The record: ``{query: {"jobs": n, "nodes": {name: count}}}``."""
    sc = spark.sparkContext
    shapes = {}
    for name, fn in entry.queries().items():
        group = f"plan_shapes:{name}"
        sc.setJobGroup(group, group)
        try:
            df = fn(spark, SF_DIR)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        shapes[name] = {"jobs": jobs, "nodes": node_counts(df)}
    return dict(sorted(shapes.items()))


if __name__ == "__main__":
    from gelos_spark.session import get_spark

    with open(PATH, "w") as f:
        f.write(json.dumps(build(get_spark("plan-shapes")), indent=1, sort_keys=True) + "\n")
    print(f"wrote {PATH}")
