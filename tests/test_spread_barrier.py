"""Armed plan-shape pin for the ``_spread`` pushdown barrier
(tables.py) — r14 verdict item 8b.

The barrier relies on an optimizer-internal behavior:
``PushPredicateThroughNonJoin`` refuses to push a filter through a
projection containing a nondeterministic member, which keeps the
CPU-heavy quality-regex gate ABOVE the round-robin spread exchange
(evaluated once, in parallel) instead of back on the single-task scan.
A Spark upgrade could silently change that rule; semantically the
barrier is a tautology so results would not change, but the regex
battery would quietly re-serialize onto one task.  This test fails
loudly instead.

Formatted-explain operator ids are assigned children-first, so in a
linear chain an ancestor's id is strictly greater than its child's —
the assertions below lean on that (and on the plan captures under
plans/r14 and plans/r15 in git history showing the same shape, e.g.
``git show bc6bdcb:plans/r15/llm_prep_pipeline_after.txt``;
``tools/capture_plans.py`` re-captures them).
"""

from __future__ import annotations

import re

from rc_scanner_spark.queries import build_registry

# sf0.1 is the smallest fixture whose documents.parquet crosses the
# 256 KiB spread threshold (sf0.01 is ~64 KiB and abstains).
SF_SPREAD = "/root/testdata/sf0.1"


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _blocks(plan: str) -> dict[int, str]:
    """Map operator id -> its detail block from explain('formatted')."""
    out: dict[int, str] = {}
    for m in re.finditer(
        r"^\((\d+)\) (.*?)(?=^\(\d+\) |\Z)", plan, re.M | re.S
    ):
        out[int(m.group(1))] = m.group(2)
    return out


def test_spread_barrier_keeps_regex_gate_above_exchange(spark):
    df = build_registry()["llm_prep_pipeline"].fn(spark, SF_SPREAD)
    plan = _formatted_plan(df)
    blocks = _blocks(plan)

    # the spread exchange fired (documents is large enough at sf0.1)
    exchanges = [
        i for i, b in blocks.items() if b.startswith("Exchange")
        and "RoundRobinPartitioning" in b
    ]
    assert exchanges, f"no round-robin spread exchange in plan:\n{plan[:2000]}"
    spread_id = min(exchanges)

    # the barrier projection sits directly above it
    barrier_projects = [
        i
        for i, b in blocks.items()
        if b.startswith("Project") and "_spread_barrier" in b
    ]
    assert barrier_projects, "barrier projection missing — tables._spread changed?"
    assert min(barrier_projects) > spread_id

    # the quality-regex gate rides the barrier filter ABOVE the
    # exchange: one Filter carrying both the tautological barrier
    # conjunct and the regex battery
    regex_filters = [
        i
        for i, b in blocks.items()
        if b.startswith("Filter") and "regexp_extract_all" in b
    ]
    assert regex_filters, "quality-regex filter missing from the plan"
    assert all(i > spread_id for i in regex_filters), (
        "a regex filter was pushed BELOW the spread exchange — the "
        "PushPredicateThroughNonJoin barrier no longer holds on this "
        f"Spark build (filter ids {regex_filters}, exchange {spread_id})"
    )
    barrier_filters = [
        i for i in regex_filters if "_spread_barrier" in blocks[i]
    ]
    assert barrier_filters, (
        "the regex gate no longer shares the barrier filter — check "
        "whether the optimizer started splitting the conjunction"
    )

    # and the single-task scan below the exchange stays untouched by
    # derived predicates (nothing to push down for documents)
    scans = [
        i
        for i, b in blocks.items()
        if b.startswith("Scan parquet") and "documents.parquet" in b
    ]
    assert scans and min(scans) < spread_id
