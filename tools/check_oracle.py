"""Dev harness: run every registry query on Spark AND its DuckDB
oracle twin, compare row count / column names / values (exact, then
with float tolerance), print a per-query verdict.

Usage: python tools/check_oracle.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from rc_scanner_spark import TABLES
from rc_scanner_spark.queries import build_registry
from rc_scanner_spark.session import get_spark


def normalize_cell(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def df_to_rows(pdf):
    cols = sorted(pdf.columns)
    rows = [tuple(normalize_cell(v) for v in row) for row in pdf[cols].itertuples(index=False)]
    return cols, sorted(rows, key=repr)


def close(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def rows_equal(ra, rb):
    if len(ra) != len(rb):
        return False, "row count"
    for x, y in zip(ra, rb):
        if x == y:
            continue
        if len(x) != len(y) or not all(close(a, b) for a, b in zip(x, y)):
            return False, f"value: {x} != {y}"
    return True, ""


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    filters = sys.argv[2:]
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    from rc_scanner_spark.operators.dedup import release_caches

    registry = build_registry()
    failures = []
    for name, spec in registry.items():
        if filters and not any(f in name for f in filters):
            continue
        # persisted intermediates (graph edges, shingle frames, ...)
        # must not accumulate across a 400-query sweep
        release_caches()
        try:
            sdf = spec.fn(spark, sf_dir).toPandas()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            continue
        if spec.sql is None:
            print(f"ok   {name}: rows-only ({len(sdf)} rows)")
            continue
        try:
            odf = con.execute(spec.sql).df()
        except Exception as e:
            failures.append(name)
            print(f"FAIL {name}: oracle error: {str(e)[:300]}")
            continue
        scols, srows = df_to_rows(sdf)
        ocols, orows = df_to_rows(odf)
        if scols != ocols:
            failures.append(name)
            print(f"FAIL {name}: columns {scols} != {ocols}")
            continue
        # The external driver hashes TYPED values, so an int64 Spark
        # column vs a HUGEINT->float64 oracle column hash-mismatches
        # even when every value compares equal (2 == 2.0).  Compare
        # pandas dtype *kinds* (i/u vs f vs O vs M) to catch that
        # class locally; int32-vs-int64 width differences stay ok.
        kind_drift = [
            (c, sdf[c].dtype.kind, odf[c].dtype.kind)
            for c in scols
            if sdf[c].dtype.kind != odf[c].dtype.kind
            and {sdf[c].dtype.kind, odf[c].dtype.kind} - {"i", "u"}
        ]
        if kind_drift:
            failures.append(name)
            print(f"FAIL {name}: dtype drift {kind_drift} (driver hash would mismatch)")
            continue
        eq, why = rows_equal(srows, orows)
        if not eq:
            failures.append(name)
            print(f"FAIL {name}: {why} (spark={len(srows)} oracle={len(orows)} rows)")
            for a, b in list(zip(srows, orows))[:3]:
                if a != b:
                    print(f"   spark : {a}\n   oracle: {b}")
        else:
            exact = srows == orows
            print(f"ok   {name}: {len(srows)} rows{'' if exact else '  (float-tolerance only!)'}")
    print(f"\n{len(failures)} failures / {len(registry)} queries")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
