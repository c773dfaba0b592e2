"""COVERAGE.md drift pins.

The coverage map's headline counts went stale twice (r4: 160 -> r5:
173 header vs 207 registry); these assertions make the doc fail the
build instead of silently drifting from ``build_registry()``.
"""

from __future__ import annotations

import re
from pathlib import Path

from rc_scanner_spark.queries import build_registry

ROOT = Path(__file__).resolve().parent.parent
COVERAGE = ROOT / "COVERAGE.md"

# Families documented in COVERAGE.md via a shorthand ("`q3ish`" inside
# the TPC-H row, "+ `_all` variants" in set ops) rather than their full
# registry name; mapped to the literal shorthand the doc uses.
_SHORTHAND = {
    "setop_intersect_all": "`_all`",
    "setop_except_all": "`_all`",
}


def test_coverage_header_counts_match_registry():
    reg = build_registry()
    text = open(COVERAGE, encoding="utf-8").read()
    m = re.search(
        r"\*\*(\d+) registry queries, (\d+)\s+with full value-hash oracles\*\*",
        text,
    )
    assert m, "COVERAGE.md headline counts sentence missing/reformatted"
    n_total, n_oracle = int(m.group(1)), int(m.group(2))
    assert n_total == len(reg), (n_total, len(reg))
    assert n_oracle == sum(1 for s in reg.values() if s.sql is not None)


def test_readme_counts_match_registry():
    reg = build_registry()
    text = open(ROOT / "README.md", encoding="utf-8").read()
    m = re.search(r"exposes all (\d+) queries; (\d+) carry a DuckDB", text)
    assert m, "README correctness counts sentence missing/reformatted"
    assert int(m.group(1)) == len(reg)
    assert int(m.group(2)) == sum(1 for s in reg.values() if s.sql is not None)
    m2 = re.search(r"the registry: (\d+) named queries", text)
    assert m2 and int(m2.group(1)) == len(reg)


def test_coverage_mentions_every_registry_query():
    reg = build_registry()
    text = open(COVERAGE, encoding="utf-8").read()
    missing = []
    for name in reg:
        if f"`{name}`" in text:
            continue
        if name.startswith("tpch_") and f"`{name.removeprefix('tpch_')}`" in text:
            continue  # TPC-H row lists `q3ish`, `q6`, ... shorthand
        if _SHORTHAND.get(name, "\0") in text:
            continue
        missing.append(name)
    assert not missing, f"registry queries absent from COVERAGE.md: {missing}"
