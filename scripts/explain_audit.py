"""Physical-plan audit: `.explain("formatted")` for the engine's key
operators, with automatic checks of the plan properties the scale
design depends on (SURVEY.md §4):

  - parquet scans show PushedFilters / pruned ReadSchema;
  - small dimensions broadcast (BroadcastHashJoin, never shuffle the
    tile side);
  - relational stages sit inside WholeStageCodegen spans;
  - Python appears only in the stages designed to hold it (payload
    decode, NumPy hashing kernels) — everything else is JVM.

Writes PLANS.md at the repo root, with expression, plan and RDD ids
stripped from each plan so a re-run with the same parallelism diffs
clean. Partition
counts follow the session's parallelism, which the header records.
Run: SPARK_GRAFT_CPUS=$(nproc) python scripts/explain_audit.py
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

import __spark_entry__ as entry
from gelos_spark.operators.knn_join import knn_join
from gelos_spark.operators.pip_join import pip_join
from gelos_spark.operators.pyramid import vector_pyramid
from gelos_spark.functions.cell_udfs import cell_encode_col
from gelos_spark.session import DEFAULT_CPUS, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def plan_text(df) -> str:
    """The formatted plan without its session-counter ids: expression
    ids (``name#12L`` -> ``name``), exchange plan ids and RDD ids, which
    shift with everything planned earlier in the session, and the
    identity hash of a constant-folded array (``UnsafeArrayData@1a2b``),
    which changes every run."""
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return re.sub(
        r"#\d+L?|, \[plan_id=\d+\]|(?<=RDD)\[\d+\]|(?<=UnsafeArrayData)@[0-9a-f]+", "", buf.getvalue()
    )


def check(plan: str, name: str) -> list[str]:
    notes = []
    if "PushedFilters: [" in plan and not re.search(r"PushedFilters: \[\]", plan):
        notes.append("[x] filters pushed to parquet scan")
    if "BroadcastHashJoin" in plan:
        notes.append("[x] small side broadcast (no big-side shuffle)")
    if "SortMergeJoin" in plan:
        notes.append("[!] sort-merge join present (both sides shuffle)")
    spans = {m for m in re.findall(r"codegen id : (\d+)", plan)}
    if spans:
        notes.append(f"[x] {len(spans)} WholeStageCodegen span(s)")
    n_py = len(re.findall(r"ArrowEvalPython|BatchEvalPython|MapInArrow|FlatMapGroupsInPandas", plan))
    notes.append(
        f"[{'x' if n_py <= 1 else '!'}] {n_py} Python stage(s)"
        + (" (by design: vectorized kernel)" if n_py else " — fully JVM")
    )
    return notes


def main():
    spark = get_spark("explain-audit")
    read = lambda n: spark.read.parquet(f"{SF_DIR}/{n}.parquet")
    out = ["# PLANS — physical-plan audit of the key operators\n"]
    out.append(
        "Generated by `scripts/explain_audit.py` (`.explain(\"formatted\")` on "
        f"`{SF_DIR}` at `SPARK_GRAFT_CPUS={DEFAULT_CPUS}`, expression, plan "
        "and RDD ids stripped). The properties checked are the scale contracts of "
        "SURVEY.md §4: pushdown/pruning at the scan, broadcast of small "
        "dimensions, whole-stage codegen for relational work, Python "
        "confined to the designed vectorized kernels.\n"
    )

    cases = {}

    # 1. filter/projection pushdown
    cases["scan_pushdown"] = entry._scan_pushdown(spark, SF_DIR)

    # 2. flagship PIP join
    cust = read("customer")
    cases["pip_join"] = pip_join(spark, entry._points_df(cust, "c_custkey"), entry.POLYGONS)

    # 3. broadcast dimension join
    cases["join_tracker"] = entry._join_tracker(spark, SF_DIR)

    # 4. vector pyramid (fused rollup)
    pts = entry._points_df(read("lineitem"), "l_orderkey").withColumn(
        "cell", cell_encode_col(F.col("lon"), F.col("lat"), 8)
    ).withColumn("cat", F.lit("x"))
    cases["vector_pyramid"] = vector_pyramid(pts, 8, 4, cat_col="cat")

    # 5. salted aggregation
    cases["salted_agg"] = entry._salted_agg(spark, SF_DIR)

    # 6. window top-k
    cases["window_topk"] = entry._window_topk(spark, SF_DIR)

    # 7. chained extraction strategies — one Catalyst projection
    cases["extract_strategy"] = entry._extract_strategy(spark, SF_DIR)

    # 8. embedding dedup candidate join (banded LSH equi-join)
    from gelos_spark.operators import dedup as _dedup

    cases["minhash_lsh"] = _dedup.minhash_lsh_pairs(
        read("documents").limit(200), num_hashes=32, bands=8, min_jaccard=0.2
    )

    # 9. banded hamming join (phash/simhash) over a 64-bit text hash
    cases["hamming_pairs"] = _dedup.hamming_hash_pairs(
        read("documents").select("doc_id", F.xxhash64("text").alias("h")), "doc_id", "h", 3
    )

    for name, df in cases.items():
        plan = plan_text(df)
        out.append(f"\n## {name}\n")
        out.extend(f"- {n}" for n in check(plan, name))
        out.append("\n```\n" + plan.strip()[:6000] + "\n```\n")

    # PRESERVE the hand-curated sections: everything at/after the
    # marker survives a re-run (overwriting blindly once cost nothing
    # only because the audit had never been re-run after curation
    # started — an accident, not a property)
    path = os.path.join(REPO, "PLANS.md")
    marker = (
        "<!-- MANUAL SECTIONS BELOW — explain_audit.py preserves "
        "everything after this line -->"
    )
    manual = ""
    if os.path.exists(path):
        prev = open(path).read()
        if marker in prev:
            manual = prev[prev.index(marker):]
        elif "(round " in prev:
            raise SystemExit(
                "PLANS.md has hand-written sections but no preservation "
                f"marker; add the marker line first:\n{marker}"
            )
    with open(path, "w") as f:
        f.write("\n".join(out))
        if manual:
            f.write("\n" + manual)
    print("wrote PLANS.md" + (" (manual sections preserved)" if manual else ""))


if __name__ == "__main__":
    main()
