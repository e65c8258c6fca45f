"""Physical-plan audit: for each driver-contract query, print the
parquet scans' pruned read schemas + pushed filters, the join
strategies chosen, and whether Python (Arrow UDF) stages appear.

Writes PLANS.md — reviewable evidence that filters/projections reach
the scans and small joins broadcast.

Usage: python tools/audit_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "src"))

INTERESTING = re.compile(
    r"(Scan parquet|PushedFilters|ReadSchema|BroadcastHashJoin|"
    r"SortMergeJoin|BroadcastNestedLoopJoin|CartesianProduct|"
    r"ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas|PythonMapInArrow|"
    r"Generate explode|Generate posexplode|HashAggregate|Exchange)")

SUMMARY_KEYS = ["Scan parquet", "BroadcastHashJoin", "SortMergeJoin",
                "BroadcastNestedLoopJoin", "CartesianProduct",
                "FlatMapGroupsInPandas", "Exchange", "Window"]


def condense(plan: str, max_lines: int = 40) -> tuple[str, dict]:
    lines = []
    counts = {k: 0 for k in SUMMARY_KEYS}
    for raw in plan.splitlines():
        line = raw.strip()
        for k in SUMMARY_KEYS:
            if k in line:
                counts[k] += 1
        m = INTERESTING.search(line)
        if not m:
            continue
        if line.startswith(("+-", ":-", ":", "*")):
            line = re.sub(r"^[+:\-* (]+\d*\)? *", "", line)
        if len(line) > 160:
            line = line[:157] + "..."
        lines.append(line)
    # dedupe consecutive repeats
    out, prev = [], None
    for l in lines:
        if l != prev:
            out.append(l)
        prev = l
    return "\n".join(out[:max_lines]), counts


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod
    from tstoken.session import get_spark

    spark = get_spark("audit", master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    sections = []
    flagged = []
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode \
        .fromString("formatted")
    for name, fn in entrymod.queries().items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(jmode)
        except Exception as e:  # pragma: no cover
            sections.append(f"## {name}\n\nERROR: {e}\n")
            flagged.append((name, "error"))
            continue
        condensed, counts = condense(plan)
        notes = []
        if counts["CartesianProduct"]:
            notes.append("CARTESIAN PRODUCT — check intended")
        if counts["BroadcastNestedLoopJoin"]:
            notes.append("broadcast nested loop (inequality join — "
                         "exact all-pairs op)")
        if counts["SortMergeJoin"] > 0 and counts["BroadcastHashJoin"] == 0 \
                and counts["SortMergeJoin"] > 2:
            notes.append("many sort-merge joins")
        summary = ", ".join(f"{k}×{v}" for k, v in counts.items() if v)
        sections.append(f"## {name}\n\n{summary}"
                        + (f"\n\n**notes: {'; '.join(notes)}**" if notes else "")
                        + f"\n\n```\n{condensed}\n```\n")
        if notes:
            flagged.append((name, "; ".join(notes)))
    spark.stop()

    hdr = ("# PLANS.md — physical-plan audit of the driver contract\n\n"
           f"Generated by tools/audit_plans.py over {sf_dir}. For every\n"
           "queries() entry: operator counts and the scan/join/Python\n"
           "lines of `explain('formatted')`. Things to check: ReadSchema\n"
           "shows only needed columns (pruning), PushedFilters is\n"
           "populated for selective scans, small joins broadcast, Python\n"
           "appears only in grouped-series detectors and codecs.\n"
           "Note: doc_* plans carry one extra RoundRobin Exchange per\n"
           "text input — the adaptive spread (textops._spread) that\n"
           "parallelizes per-row text work when a small corpus scans as\n"
           "a single split; it self-disables (no exchange) once the scan\n"
           "has >= defaultParallelism splits, i.e. at cluster scale.\n\n")
    if flagged:
        hdr += "Flagged:\n" + "\n".join(
            f"- **{n}**: {w}" for n, w in flagged) + "\n\n"
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(hdr + "\n".join(sections))
    print(f"wrote PLANS.md; {len(flagged)} flagged: {flagged}")


if __name__ == "__main__":
    main()
