"""Generate docs/PLANS.md — a per-query physical-plan quality report.

tests/test_plan_hygiene.py ASSERTS the invariants (no Cartesian, no
unlisted nested-loop, no Python outside the Arrow escape hatches); this
tool makes the same plans REVIEWABLE: for every registered query, count
the plan features that matter at 100 TB — shuffles (Exchange), join
strategies, whole-stage-codegen spans, Python/Arrow evaluation nodes,
Expand, and scans with pushed filters — plus what building the query
costs before any action runs (driver→JVM round trips on the building
thread and Spark jobs fired), and write one markdown row per query plus
fleet-wide totals.

Counts come from `explain('formatted')`, where every physical node
appears exactly once as a numbered "(n) NodeName" line (the raw
executedPlan string repeats cached subtrees and spells codegen as
"*(n)" prefixes, which double-counts). An adaptive plan that has run
(a persisted frame materialized while the query was built) prints a
Final and an Initial plan; only the Final plan, the one that ran, is
counted. Codegen stage ids restart inside every cached or adaptive
subplan, so spans are counted per subplan.

Each query is built twice after `reset_session_state`, and the second
build is the one counted and planned: the first caches the parquet
schemas, so the build cost does not depend on which query ran before.

Usage: python tools/gen_plan_report.py  (plans at sf0.001; iterative
operators execute their bounded driver loops while planning, so the
sweep runs a real Spark session).
"""

from __future__ import annotations

import pathlib
import re
import sys
from collections import Counter

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"

PY_NODES = {
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapGroupsInPandasWithState",
}
COLS = [
    "exchanges",
    "bhj",
    "smj",
    "shj",
    "bnlj",
    "cartesian",
    "codegen",
    "python",
    "expand",
    "pushed_scans",
    "round_trips",
    "build_jobs",
]


def _initial_only_ids(plan: str) -> set[str]:
    """Ids of the nodes that appear only under an `== Initial Plan ==`
    marker of the plan tree. A section holds the lines indented deeper
    than its marker; leaves the Final plan shares (the scans) keep
    their id there."""
    ids = {"Initial": set(), "Final": set()}
    section, col = None, 0
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" "))
        marker = re.search(r"== (Initial|Final) Plan ==", line)
        if marker:
            section, col = marker.group(1), indent
        elif section and indent > col:
            ids[section].update(re.findall(r" \((\d+)\)", line))
        else:
            section = None
    return ids["Initial"] - ids["Final"]


def _subplans(plan: str) -> dict[str, int]:
    """Node id -> the (sub)plan it belongs to. Every tree of the plan
    (the main one, each subquery's) is one, and so is what sits under an
    InMemoryRelation or an AdaptiveSparkPlan node: each numbers its
    codegen stages from 1."""
    owner: dict[str, int] = {}
    n, stack = 0, []  # stack of (indent of the opening node, subplan)
    for line in plan.splitlines():
        if line.startswith(("== Physical Plan ==", "Subquery:")):
            n += 1
            stack = [(-1, n)]
            continue
        m = re.search(r"(\w+) +\((\d+)\)", line)
        if not stack or not m or line.startswith("("):
            if not line.strip():
                stack = []
            continue
        indent = len(line) - len(line.lstrip(" :|+-*"))
        while indent <= stack[-1][0]:
            stack.pop()
        owner.setdefault(m.group(2), stack[-1][1])
        if m.group(1) in ("InMemoryRelation", "AdaptiveSparkPlan"):
            n += 1
            stack.append((indent, n))
    return owner


def _features(plan: str) -> dict[str, int]:
    # one block per node: its "(n) NodeName" line and the details under it
    skip = _initial_only_ids(plan)
    owner = _subplans(plan)
    heads = [(re.match(r"\((\d+)\) (\w+)", b), b) for b in re.split(r"\n(?=\(\d+\) )", plan)]
    kept = [(m.group(1), m.group(2), b) for m, b in heads if m and m.group(1) not in skip]
    blocks = [b for _, _, b in kept]
    nodes = Counter(name for _, name, _ in kept)
    spans = {
        (owner.get(i), cg) for i, _, b in kept for cg in re.findall(r"\[codegen id : (\d+)\]", b)
    }
    return {
        "exchanges": nodes["Exchange"],
        "bhj": nodes["BroadcastHashJoin"],
        "smj": nodes["SortMergeJoin"],
        "shj": nodes["ShuffledHashJoin"],
        "bnlj": nodes["BroadcastNestedLoopJoin"],
        "cartesian": nodes["CartesianProduct"],
        "codegen": len(spans),
        "python": sum(nodes[n] for n in PY_NODES),
        "expand": nodes["Expand"],
        "pushed_scans": sum(bool(re.search(r"PushedFilters: \[[^\]]", b)) for b in blocks),
    }


def main() -> None:
    from hedera_spark.plans import formatted_plan
    from hedera_spark.plans.audit import build_cost
    from hedera_spark.registry import QUERIES
    from hedera_spark.session import get_spark, reset_session_state

    spark = get_spark("hedera_spark-plan-report")
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    totals = {k: 0 for k in COLS}
    for name, fn in sorted(QUERIES.items()):
        try:
            reset_session_state(spark)
            fn(spark, SF_DIR)
            reset_session_state(spark)
            df, round_trips, jobs = build_cost(spark, lambda: fn(spark, SF_DIR))
            counts = _features(formatted_plan(df))
        except Exception as exc:  # keep sweeping
            rows.append((name, None, str(exc)[:80]))
            continue
        counts.update(round_trips=round_trips, build_jobs=jobs)
        for k in totals:
            totals[k] += counts[k]
        rows.append((name, counts, None))
        print(f"# {name}: ok", file=sys.stderr)

    out = pathlib.Path(__file__).resolve().parent.parent / "docs" / "PLANS.md"
    with out.open("w") as f:
        f.write("# PLANS — physical-plan quality report\n\n")
        f.write(
            "Generated by tools/gen_plan_report.py at sf0.001 — do not "
            "edit.\nPer-plan node counts from `explain('formatted')` (of "
            "an adaptive plan that has run, the Final plan only): "
            "shuffles (Exchange), join strategies (broadcast-hash / "
            "sort-merge / shuffled-hash / broadcast-nested-loop / "
            "cartesian), whole-stage-codegen span count, Python/Arrow "
            "evaluation nodes, Expand, and scans with non-empty "
            "PushedFilters; then the build cost of the second build "
            "after `reset_session_state`: driver→JVM round trips on the "
            "building thread and Spark jobs fired before any action. "
            "The hygiene invariants behind these numbers "
            "are asserted by tests/test_plan_hygiene.py; nested-loop and "
            "Python entries appear only on the allowlisted baselines / "
            "escape hatches / 1-row-build scalar joins.\n\n"
        )
        ok = [r for r in rows if r[1] is not None]
        f.write(
            f"**{len(ok)} queries planned.** Totals: "
            + ", ".join(f"{k}={totals[k]}" for k in COLS)
            + ".\n\n"
        )
        f.write("| query | " + " | ".join(COLS) + " |\n")
        f.write("| --- |" + " --- |" * len(COLS) + "\n")
        for name, counts, err in rows:
            if counts is None:
                f.write(f"| `{name}` | FAILED: {err} |\n")
                continue
            f.write(
                f"| `{name}` | "
                + " | ".join(str(counts[k]) for k in COLS)
                + " |\n"
            )
    print(f"wrote {out} ({len(ok)} queries)")


if __name__ == "__main__":
    main()
