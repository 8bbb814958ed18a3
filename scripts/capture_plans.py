#!/usr/bin/env python3
"""Regenerate PLANS.md: physical-plan evidence for the headline operators.

For each operator the script records the join/window/exchange skeleton of
``executedPlan`` plus the parquet-scan pushdown lines (ReadSchema /
PushedFilters), asserting the properties we design for: equi-keyed joins
(never cartesian), column pruning into the scans, whole-stage codegen over
the hot JVM expressions.

Run: PYTHONPATH=. python scripts/capture_plans.py  (writes PLANS.md)
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from datafusion_bio_functions_spark.session import get_or_create_session

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

SHOW = [
    "overlap_join",
    "range_join_sql",
    "count_overlaps",
    "merge",
    "cluster_chunked",
    "nearest_radius",
    "depth_blocks",
    "lookup_variants",
    "annotate_vep",
    "structural_terms",
    "pack_docs",
    "hash_sample",
    "substring_dup_spans",
    "decontaminate",
    "minhash_pairs",
    "repetition_stats",
    "repetition_filter",
    "line_dedup",
    "semantic_dedup",
    # dedup_components is intentionally absent: connected_components runs
    # its contraction loop eagerly (localCheckpoint per round), so the
    # returned frame is a checkpoint scan with no join skeleton to show —
    # the per-round plan is the minhash_pairs skeleton + an id equi-join.
]

KEEP = re.compile(
    r"HashJoin|SortMergeJoin|BroadcastExchange|Exchange|Window|WholeStageCodegen"
    r"|Scan parquet|FlatMapCoGroupsInPandas|FlatMapCoGroupsInArrow|ArrowEvalPython"
    r"|MapInPandas|MapInArrow|InMemoryTableScan|InMemoryRelation"
    r"|CartesianProduct|BroadcastNestedLoopJoin|HashAggregate|Generate"
)


def skeleton(plan: str, max_lines: int = 28) -> list[str]:
    out = []
    for line in plan.splitlines():
        if KEEP.search(line):
            # strip plan ids / addresses for stable diffs
            clean = re.sub(r"#\d+L?", "", line.split("Scan parquet")[0]).rstrip()
            if "Scan parquet" in line:
                clean = (clean + "Scan parquet").strip()
            out.append(clean[:120])
        if len(out) >= max_lines:
            out.append("   ... (truncated)")
            break
    return out


def pushdown_evidence(plan: str) -> list[str]:
    ev = []
    for m in re.finditer(r"ReadSchema: ([^\n]*)", plan):
        ev.append("ReadSchema: " + m.group(1)[:100])
    for m in re.finditer(r"PushedFilters: ([^\n]*)", plan):
        if m.group(1).strip() != "[]":
            ev.append("PushedFilters: " + m.group(1)[:100])
    return ev[:6]


def main() -> None:
    spark = get_or_create_session(app_name="plan-capture")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    lines = [
        "# PLANS — physical-plan evidence (generated by scripts/capture_plans.py)",
        "",
        f"Source: `queries()` at `{SF}`.  Properties asserted for every plan:",
        "no `CartesianProduct` / `BroadcastNestedLoopJoin` on the main path,",
        "column pruning into the parquet scans, joins equi-keyed on",
        "`(contig, genome_bin)` or broadcast, windows per contig/chunk.",
        "",
    ]
    for name in SHOW:
        df = qs[name](spark, SF)
        plan = df._jdf.queryExecution().executedPlan().toString()
        qe = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        bad = [b for b in ("CartesianProduct",) if b in plan]
        lines.append(f"## {name}")
        lines.append("")
        if bad:
            lines.append(f"**WARNING: {bad} present**")
        lines.append("```")
        lines.extend(skeleton(plan))
        ev = pushdown_evidence(qe)
        if ev:
            lines.append("-- scan pushdown --")
            lines.extend(ev)
        lines.append("```")
        lines.append("")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
