"""Generate PLANS.md: a physical-plan audit of every registered query.

For each query, count the plan nodes that decide scale behavior —
exchanges (shuffles), broadcast vs sort-merge joins, nested loops,
windows — and check that parquet scans carry pushed filters when the
query filters a scanned column. One table, machine-generated, so
plan regressions are visible in review diffs.

The run also asserts ZERO unhonorable-hint WARNs: explainString drives
full physical planning, where Spark's HintErrorLogger reports any join
hint it had to drop (e.g. broadcast on the preserved side of an outer
join). A dropped hint is dead code that misleads readers about the
plan, so the audit re-execs itself with stderr captured and fails loud
if any HintErrorLogger line appears across the whole registry.

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import re

from portfolio1_etl_spark import get_spark
from portfolio1_etl_spark.plans import REGISTRY

NODES = [
    ("Exchange", "shuffles"),
    ("BroadcastHashJoin", "bcast joins"),
    ("SortMergeJoin", "sm joins"),
    ("BroadcastNestedLoopJoin", "bnl joins"),
    ("CartesianProduct", "cartesian"),
    ("Window", "windows"),
    ("HashAggregate", "hash aggs"),
]


def plan_cells(plan: str) -> list[str]:
    """The PLANS.md cells of one formatted plan: a count per ``NODES``
    entry (blank for zero), then ``yes`` when parquet scans carry
    pushed filters. Nodes are counted in the plan TREE section only,
    where each node appears once."""
    tree = plan.split("\n\n")[0]
    # whole-token match: 'Exchange' must not count 'BroadcastExchange',
    # 'HashAggregate' must not count 'ObjectHashAggregate'
    counts = [
        len(re.findall(rf"(?<![A-Za-z]){node}(?![A-Za-z])", tree))
        for node, _ in NODES
    ]
    pushed = "PushedFilters: [" in plan and "PushedFilters: []" not in plan
    return [str(c) if c else "" for c in counts] + ["yes" if pushed else ""]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(app_name="plan-audit", cpus=8)
    jvm_mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    lines = [
        "# PLANS — physical-plan audit of every registered query",
        "",
        f"Generated by tools/plan_audit.py at {os.path.basename(sf_dir)}. Node",
        "counts come from the plan TREE section (each node once). `pushed`",
        "marks parquet scans carrying pushed filters. CartesianProduct is",
        "forbidden by tests/test_plan_quality.py; BroadcastNestedLoopJoin only",
        "where the broadcast side is tiny by construction (see the sanction",
        "list in the same test).",
        "",
        "| query | " + " | ".join(label for _, label in NODES) + " | pushed |",
        "|---|" + "---|" * (len(NODES) + 1),
    ]
    totals = dict.fromkeys([n for n, _ in NODES], 0)
    for name, q in REGISTRY.items():
        df = q.fn(spark, sf_dir)
        cells = plan_cells(df._jdf.queryExecution().explainString(jvm_mode))
        for (node, _), c in zip(NODES, cells):
            totals[node] += int(c or 0)
        lines.append(f"| {name} | " + " | ".join(cells) + " |")
    lines += [
        "",
        "Totals: " + ", ".join(f"{label}={totals[node]}" for node, label in NODES)
        + f" across {len(REGISTRY)} queries.",
        "",
    ]
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"
    )
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md ({len(REGISTRY)} queries)")
    spark.stop()


def _wrapper() -> None:
    """Re-exec the audit with stderr captured; fail on hint WARNs."""
    import subprocess

    env = dict(os.environ, PLAN_AUDIT_CHILD="1")
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), *sys.argv[1:]],
        stderr=subprocess.PIPE,
        env=env,
        text=True,
        errors="replace",
    )
    hint_warns = [
        ln for ln in proc.stderr.splitlines() if "HintErrorLogger" in ln
    ]
    if hint_warns:
        print("UNHONORABLE HINTS (dead code — drop or restructure):")
        for ln in hint_warns:
            print("  " + ln.strip())
        sys.exit(1)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        sys.exit(proc.returncode)
    print("hint audit: 0 HintErrorLogger WARNs across the registry")


if __name__ == "__main__":
    if os.environ.get("PLAN_AUDIT_CHILD"):
        main()
    else:
        _wrapper()
