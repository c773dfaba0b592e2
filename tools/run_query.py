"""Run, time or trace registry queries from the shell.

    python tools/run_query.py --list [PATTERN]
    python tools/run_query.py NAME [--sf DIR] [--explain] [-n ROWS]
    python tools/run_query.py [NAME ...] [--sf DIR] --reps N
    python tools/run_query.py [NAME ...] [--sf DIR] --build-only|--trace [--reps N]

The measuring modes cover the whole registry when no NAME is given and
run what bench.py runs: a ``get_spark`` session, its warm-up, and N
passes over the names with its cache rule (clear at the start of a pass
and where the share group changes).  ``--reps`` prints
``name<TAB>rep...<TAB>min`` per query (or ``name<TAB>ERROR<TAB>why``)
for ``spec.fn()`` plus a noop write; ``--build-only`` the same for
``spec.fn()`` alone.  ``--trace`` runs with Spark's event log on and
prints, per query, one JSON record of the last pass from perfbench's
``Tracer``: build time, py4j calls, table loads, jobs launched while
building, Catalyst phase times and ``exec.*`` over the query's jobs
(``--reps 2`` leaves one-time codegen out).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _first_line(e: Exception) -> str:
    return (str(e).splitlines() or [type(e).__name__])[0]


def warm_up(spark, registry, sf_dir: str) -> None:
    """bench.py's session warm-up: JVM, parquet footers and the ICU
    collation data."""
    registry["scan_verb"].fn(spark, sf_dir).count()
    spark.sql("SELECT lower('MÜller straße 你好 Ω'), upper('ñoño')").collect()


def _passes(spark, names: list[str], reps: int, failed: dict):
    """Yield ``(pass, name)`` in bench.py's order, clearing caches by
    its rule.  Names in ``failed`` are skipped from then on, and the
    query after a failed one starts from cleared caches."""
    from bench import _share_group
    from rc_scanner_spark.operators.dedup import release_caches

    for k in range(reps):
        prev = None
        for name in names:
            if name in failed:
                continue
            if prev is None or _share_group(prev) != _share_group(name):
                spark.catalog.clearCache()
                release_caches()
            yield k, name
            prev = None if name in failed else name


def time_queries(spark, registry, names, sf_dir: str, reps: int, build_only=False):
    """Yield ``(name, seconds per pass, error)`` as each query finishes:
    in the last pass, or at its first error (``error`` is then the
    exception).  A pass times ``spec.fn()`` plus a noop write, or
    ``spec.fn()`` alone when ``build_only``."""
    times: dict[str, list[float]] = {n: [] for n in names}
    failed: dict[str, Exception] = {}
    for k, name in _passes(spark, names, reps, failed):
        t = time.perf_counter()
        try:
            df = registry[name].fn(spark, sf_dir)
            if not build_only:
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001 - reported per query
            failed[name] = e
            yield name, times[name], e
            continue
        times[name].append(time.perf_counter() - t)
        if k == reps - 1:
            yield name, times[name], None


def trace_queries(registry, names, sf_dir: str, reps: int):
    """Yield one record per query for the last of ``reps`` traced
    passes.  Starts its own session, with the event log written to a
    temporary directory through ``SPARK_CONF_DIR`` (perfbench's
    mechanism), and stops it before reading the log."""
    from perfbench.run import _spark_conf
    from perfbench.tracing import Tracer, exec_layers, read_event_log, stage_skew
    from rc_scanner_spark.session import get_spark

    with tempfile.TemporaryDirectory(prefix="run_query-trace-") as run_dir:
        os.environ["SPARK_CONF_DIR"] = _spark_conf(run_dir, trace=True)
        spark = get_spark("run-query-trace")
        tracer = Tracer(spark)
        warm_up(spark, registry, sf_dir)
        failed: dict[str, Exception] = {}
        for k, name in _passes(spark, names, reps, failed):
            try:
                df = tracer.build(name, f"pass{k}", registry[name].fn, spark, sf_dir)
                tracer.execute(name, f"pass{k}", df)
            except Exception as e:  # noqa: BLE001 - reported per query
                traceback.print_exc()
                failed[name] = e
        spark.stop()
        log = read_event_log(os.path.join(run_dir, "eventlog"))

    tag = f"pass{reps - 1}"
    for name in names:
        if name in failed:
            yield {"query": name, "error": _first_line(failed[name])}
            continue
        rec = tracer.queries[(tag, name)]
        groups = {f"build|{tag}|{name}", f"exec|{tag}|{name}"}
        jobs = [j for j, job in log["jobs"].items() if job["group"] in groups]
        out = {
            "query": name,
            "build_s": rec["build_s"],
            "build_py4j_calls": rec["py4j"],
            "build_jobs": sum(log["jobs"][j]["group"].startswith("build|") for j in jobs),
            "load_calls": rec["load_calls"],
            "load_s": rec["load_s"],
            "catalyst.analysis_s": rec["analysis"],
            "catalyst.optimization_s": rec["optimization"],
            "catalyst.planning_s": rec["planning"],
            **exec_layers(log, jobs, 1),
            "exec.stage_skew": stage_skew(log, jobs),
        }
        yield {k: round(v, 4) if isinstance(v, float) else v for k, v in out.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("names", nargs="*", help="registry query names")
    ap.add_argument("--sf", default="/root/testdata/sf0.1", help="table dir")
    ap.add_argument("--list", action="store_true", help="list query names")
    ap.add_argument("--explain", action="store_true", help="show formatted plan")
    ap.add_argument("-n", type=int, default=20, help="rows to show")
    ap.add_argument("--reps", type=int, help="timed passes")
    ap.add_argument("--build-only", action="store_true", help="time spec.fn() only")
    ap.add_argument("--trace", action="store_true", help="print a per-layer record")
    args = ap.parse_args(argv)

    from rc_scanner_spark.queries import build_registry

    registry = build_registry()
    if args.list:
        pat = (args.names[0] if args.names else "").lower()
        for name, spec in registry.items():
            if pat in name:
                tag = "oracle" if spec.sql else "rows-only"
                print(f"{name:32s} [{tag}]")
        return 0
    for name in args.names:
        if name not in registry:
            near = [n for n in registry if name.lower() in n]
            hint = f"; close: {', '.join(near[:5])}" if near else ""
            print(f"unknown query {name!r}{hint}", file=sys.stderr)
            return 2
    measure = args.reps is not None or args.build_only or args.trace
    if not measure and len(args.names) != 1:
        ap.error("give one query name to show, or --reps/--build-only/--trace")
    if args.reps is not None and args.reps < 1:
        ap.error("--reps must be at least 1")
    reps = args.reps or 1
    names = args.names or list(registry)

    if args.trace:
        for rec in trace_queries(registry, names, args.sf, reps):
            print(json.dumps(rec), flush=True)
        return 0

    from rc_scanner_spark.session import get_spark

    spark = get_spark("run-query")
    if not measure:
        df = registry[names[0]].fn(spark, args.sf)
        if args.explain:
            df.explain("formatted")
        df.show(args.n, truncate=40)
        print(f"({df.count()} rows)")
        return 0
    warm_up(spark, registry, args.sf)
    for name, ts, err in time_queries(spark, registry, names, args.sf, reps, args.build_only):
        if err is not None:
            traceback.print_exception(err)
            print(f"{name}\tERROR\t{_first_line(err)}", flush=True)
        else:
            print("\t".join([name, *(f"{t:.3f}" for t in ts), f"{min(ts):.3f}"]), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
