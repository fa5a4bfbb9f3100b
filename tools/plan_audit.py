#!/usr/bin/env python
"""Plan-quality lint over the whole query registry.

Builds every registry query's DataFrame (no execution beyond what plan
construction needs) and greps the physical plan for the failure modes
that kill 100 TB runs:

HARD (exit 1): CartesianProduct (two unbounded sides), BatchEvalPython
(row-at-a-time Python; Arrow-batched MapInPandas/ArrowEvalPython is the
allowed Python path), and any query whose plan fails to build.

SOFT (reported, not failing): BroadcastNestedLoopJoin — in this engine
every BNLJ is the deliberate broadcast-cross of a BOUNDED side (query
batch ≤100, centroid/plane/param sets) against the collection, which is
the correct scoring shape; audited here so a new unbounded one stands
out in review (verified 2024-round-2: all BNLJs build on a bounded
broadcast side). Also soft: a `Scan ExistingRDD` under a
`BroadcastExchange` — a broadcast side built from a Python list
(`createDataFrame(list)`) is an RDD behind a pickling map, so
broadcasting it costs a Spark job of Python tasks per use; a side built
through Arrow (pandas) is a LocalTableScan the driver broadcasts with no
job.

Prints one JSON line per query: {"query", "flags", "soft", "exchanges"}.

Usage: python tools/plan_audit.py [--sf DIR] [names...]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HARD = ("CartesianProduct", "BatchEvalPython")
SOFT = ("BroadcastNestedLoopJoin",)  # bounded broadcast-cross — reviewed
RDD_UNDER_BROADCAST = "ExistingRDD under BroadcastExchange"


def broadcasts_rdd_scan(plan: str) -> bool:
    """Whether a `Scan ExistingRDD` node sits below a
    `BroadcastExchange` in an explain() tree (nesting by indentation)."""
    stack: list[tuple[int, bool]] = []  # (indent, is broadcast) of ancestors
    for line in plan.splitlines():
        body = line.lstrip(" :+-")
        if not body:
            continue
        indent = len(line) - len(body)
        while stack and stack[-1][0] >= indent:
            stack.pop()
        if body.startswith("Scan ExistingRDD") and any(bc for _, bc in stack):
            return True
        stack.append((indent, body.startswith("BroadcastExchange")))
    return False


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from write_optimized_vector_database_spark.plans.explain import (
        count_exchanges,
        explain_str,
    )
    from write_optimized_vector_database_spark.queries import registry
    from write_optimized_vector_database_spark.session import get_spark

    spark = get_spark("plan-audit", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()
    names = args.names or sorted(reg)
    hard_failures = 0
    for name in names:
        q = reg[name]
        if "streaming" in q.tags:
            print(json.dumps({"query": name, "flags": ["skipped:streaming"]}))
            continue
        try:
            df = q.fn(spark, args.sf)
            plan = explain_str(df, "simple")
            flags = [m for m in HARD if m in plan]
            soft = [m for m in SOFT if m in plan]
            if broadcasts_rdd_scan(plan):
                soft.append(RDD_UNDER_BROADCAST)
            n_exchanges = count_exchanges(df)
        except Exception as e:  # surface, don't die — audit the rest
            print(json.dumps({"query": name, "flags": [f"error:{e}"]}))
            hard_failures += 1
            continue
        if flags:
            hard_failures += 1
        print(
            json.dumps(
                {"query": name, "flags": flags, "soft": soft, "exchanges": n_exchanges}
            )
        )
    spark.stop()
    return 1 if hard_failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
