"""Emit PLAN_REPORT.md: one row per queries() entry with the physical-plan
shape counters that matter at 100 TB — shuffle exchanges, broadcasts,
sort-merge joins, Python-boundary nodes (Arrow/pandas kernels), and
whether the scan carries pushed filters. The compact form of `.explain()`
review across the whole surface: a regression shows up as a counter jump.

Usage: python tools/plan_report.py [sf_dir]   (default /root/testdata/sf0.001)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from vectorsearch_rbac_spark.sources import get_spark


# exec nodes where rows cross into a Python worker
PY_NODES = (
    "MapInPandas", "MapInArrow", "ArrowEvalPython", "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas", "AggregateInPandas", "WindowInPandas",
)


def py_nodes(plan: str) -> int:
    """Python-boundary exec nodes in a plan string (no name above is a
    substring of another, so plain counts do not double-count)."""
    return sum(plan.count(n) for n in PY_NODES)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-report")
    rows = []
    for name, fn in entry.queries().items():
        try:
            p = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # streaming-only or env-specific entries
            rows.append((name, "-", "-", "-", "-", "-", f"error: {type(exc).__name__}"))
            continue
        rows.append((
            name,
            p.count("Exchange hashpartitioning"),
            p.count("BroadcastExchange"),
            p.count("SortMergeJoin"),
            py_nodes(p),
            "y" if "PushedFilters: [" in p and not re.search(r"PushedFilters: \[\]", p) else "-",
            "",
        ))
    out = ["# Plan-shape report (executed plans at sf0.001)", "",
           "| query | shuffles | broadcasts | SMJ | py nodes | pushed filters | note |",
           "| --- | --- | --- | --- | --- | --- | --- |"]
    for r in rows:
        out.append("| " + " | ".join(str(x) for x in r) + " |")
    text = "\n".join(out) + "\n"
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_REPORT.md"), "w") as f:
        f.write(text)
    print(text)


if __name__ == "__main__":
    main()
