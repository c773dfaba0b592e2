"""Physical-plan audit for every registry query.

For each query, prints the scale-relevant plan facts:
  exchanges  - shuffle count (each is a full network pass at 100 TB)
  bhj / smj  - broadcast vs sort-merge join counts
  pushed     - whether any parquet scan carries pushed filters
  pyeval     - row-at-a-time Python UDF nodes (must be 0 in hot paths)
  arrow      - Arrow-batched Python nodes (mapInPandas etc.)
  wscg       - whole-stage-codegen span count

Usage: python tools/audit_plans.py [sf_dir] [name ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rc_scanner_spark.queries import build_registry
from rc_scanner_spark.session import get_spark


def _bracket_groups(s: str) -> int:
    groups, depth = 0, 0
    for ch in s:
        if ch == "[":
            if depth == 0:
                groups += 1
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
    return groups


def _top_level_groups(s: str) -> list[str]:
    groups, depth, cur = [], 0, []
    for ch in s:
        if ch == "[":
            if depth == 0:
                cur = []
            depth += 1
            if depth == 1:
                continue
        elif ch == "]":
            depth = max(0, depth - 1)
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return groups


def global_windows(plan: str) -> int:
    """Count Window nodes with NO partition spec (the whole input is
    funneled through one task — a single-node choke point at 100 TB).

    A Window node prints ``Window [funcs], [partSpec], [orderSpec]``,
    omitting whichever of partSpec/orderSpec is empty.  Three groups =
    partitioned.  Two groups is ambiguous: partition-only (fine) or
    order-only (GLOBAL — the bad case); an order spec is recognizable
    by its ``ASC/DESC NULLS`` sort tokens.
    """
    n = 0
    for line in plan.splitlines():
        if not re.search(r"(?:^|\s|\))Window\s+\[", line):
            continue
        tail = line[line.index("Window ") + len("Window ") :]
        groups = _top_level_groups(tail)
        if len(groups) >= 3:
            continue
        if len(groups) == 2 and not re.search(
            r"(?:ASC|DESC) NULLS (?:FIRST|LAST)", groups[1]
        ):
            continue  # partition-only spec
        n += 1
    return n


def cartesians(plan: str) -> int:
    """Count cartesian-shaped join nodes: CartesianProduct and
    BroadcastNestedLoopJoin.  Each is O(n*m) row pairs — fatal at
    100 TB unless one side is a broadcast scalar/bounded frame, so
    every occurrence must sit on the pinned allowlist
    (tests/test_plan_audit.py)."""
    return plan.count("CartesianProduct") + plan.count("BroadcastNestedLoopJoin")


def audit(plan: str) -> dict[str, int | bool]:
    return {
        "exchanges": len(re.findall(r"\bExchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning|SinglePartition)", plan)),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "pushed": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
        "pyeval": plan.count("BatchEvalPython"),
        "arrow": plan.count("ArrowEvalPython") + plan.count("MapInPandas"),
        # executedPlan marks codegen'd operators with a "*(<id>)" prefix
        "wscg": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "gwin": global_windows(plan),
        "cart": cartesians(plan),
    }


def main() -> None:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    names = args[1:] if args and os.path.isdir(args[0]) else args
    spark = get_spark("plan-audit")
    registry = build_registry()
    rows = []
    for name in sorted(registry):
        if names and name not in names:
            continue
        df = registry[name].fn(spark, sf_dir)
        # Execute THIS DataFrame's own query execution (collect, not
        # count — count builds a separate plan): under AQE the join
        # strategies, coalesced exchanges and codegen spans are only
        # final after execution.
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        # AQE plan strings append an "== Initial Plan ==" section;
        # count only the final (executed) operators above it.
        plan = plan.split("== Initial Plan ==")[0]
        a = audit(plan)
        rows.append((name, a))
        flags = []
        if a["pyeval"]:
            flags.append("PYTHON-IN-PLAN")
        if a["exchanges"] >= 6:
            flags.append("MANY-SHUFFLES")
        if a["gwin"]:
            flags.append("GLOBAL-WINDOW")
        if a["cart"]:
            flags.append("CARTESIAN")
        print(
            f"{name:28s} xchg={a['exchanges']:2d} bhj={a['bhj']} smj={a['smj']} "
            f"pushed={int(a['pushed'])} pyeval={a['pyeval']} arrow={a['arrow']} "
            f"wscg={a['wscg']:2d} {' '.join(flags)}"
        )
    n_py = sum(1 for _, a in rows if a["pyeval"])
    print(f"\n{len(rows)} queries audited; {n_py} with row-at-a-time Python in plan")


if __name__ == "__main__":
    main()
