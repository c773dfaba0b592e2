"""N-x replication scale probe.

Replicates the test tables N times with disjoint key ranges and a
per-copy perturbation (documents gain a copy-suffix token, so
cross-copy documents become near-dups — the dup structure gets RICHER,
not just bigger; fact keys shift consistently so referential integrity
holds), then times the named queries at 1x and Nx with run_query.py's
timing loop (bench.py's warm-up, two passes, min kept).

The point: local[32] cannot run 100 TB, but it CAN answer "is growth
sub-quadratic?" — a query whose time grows ~Nx with Nx data survives a
scale-up; one that grows ~N^2 does not.  Results are recorded in
PLANS.md's growth tables.

Usage:
    python tools/scale_probe.py NAME... [--sf DIR] [--factor N]

The replicated tables are written to a temporary directory and removed
at exit.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

# key columns to shift per copy (copy i adds i * 10^9), so every copy's
# keys are disjoint but joins within a copy still line up
_SHIFT = {
    "documents": ["doc_id"],
    "events": ["event_id", "user_id"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "part": ["p_partkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "embeddings": ["vec_id"],
}
_OFF = 10**9


def build_replicated(spark, sf_dir: str, out_dir: str, factor: int, tables):
    from rc_scanner_spark.tables import load_table

    os.makedirs(out_dir, exist_ok=True)
    for t in tables:
        base = load_table(spark, sf_dir, t)
        copies = []
        for i in range(factor):
            c = base
            for k in _SHIFT.get(t, []):
                c = c.withColumn(k, F.col(k) + F.lit(i * _OFF))
            if t == "documents":
                # per-copy suffix token -> cross-copy near-dups
                c = c.withColumn(
                    "text", F.concat(F.col("text"), F.lit(f" copytoken{i}"))
                )
            copies.append(c)
        out = copies[0]
        for c in copies[1:]:
            out = out.unionByName(c)
        out.write.mode("overwrite").parquet(os.path.join(out_dir, f"{t}.parquet"))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("names", nargs="+", help="registry query names")
    ap.add_argument("--sf", default="/root/testdata/sf0.1", help="table dir")
    ap.add_argument("--factor", type=int, default=4, help="copies of each table")
    args = ap.parse_args()
    if not os.path.isdir(args.sf):
        ap.error(f"sf_dir does not exist: {args.sf}")

    from run_query import time_queries, warm_up

    from rc_scanner_spark.queries import build_registry
    from rc_scanner_spark.session import get_spark

    spark = get_spark("scale-probe")
    registry = build_registry()
    warm_up(spark, registry, args.sf)

    def best(name: str, sf_dir: str) -> float:
        [(_, ts, err)] = time_queries(spark, registry, [name], sf_dir, reps=2)
        if err is not None:
            raise err
        return min(ts)

    with tempfile.TemporaryDirectory(prefix=f"scale_probe_{args.factor}x-") as out_dir:
        # replicate every table the probe queries touch (superset is fine)
        build_replicated(spark, args.sf, out_dir, args.factor, list(_SHIFT))
        # tables the queries may load untouched (dims without key shifts)
        for t in ("region", "nation"):
            src = os.path.join(args.sf, f"{t}.parquet")
            if os.path.exists(src):
                dst = os.path.join(out_dir, f"{t}.parquet")
                (shutil.copytree if os.path.isdir(src) else shutil.copyfile)(src, dst)

        print(f"| query | 1x | {args.factor}x | ratio |")
        print("|---|---|---|---|")
        for name in args.names:
            t1 = best(name, args.sf)
            tn = best(name, out_dir)
            print(f"| {name} | {t1:.1f} s | {tn:.1f} s | {tn / t1:.1f}x |", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
