"""One benchmark run of one workload, in its own process.

Started by ``run.py`` as ``python3 perfbench/workloads.py CONFIG.json``;
writes ``result.json`` into the run directory named in the config.
The program is driven only through its public functions: ``session``,
``queries``, ``tables``, ``streaming``, ``sources`` and ``sinks``.
"""

from __future__ import annotations

import ast
import hashlib
import json
import os
import pickle
import random
import sys
import time
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tools")]

import bench  # noqa: E402  (the repo's headline list and cache protocol)
import tracing  # noqa: E402
from host import vm_hwm_mb  # noqa: E402
from tracing import median  # noqa: E402

#: The two lake workloads are bench.HEADLINE split in two.
LAKE = {"lake_sql": bench.HEADLINE[:10], "lake_llm": bench.HEADLINE[10:]}
#: Timed passes per run, at least; more while they fit in --seconds.
MIN_PASSES = 2
ICU_WARMUP = "SELECT lower('MÜller straße 你好 Ω'), upper('ñoño')"
DEDUP_PAIRS = ("dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard")


def _pctl(xs: list[float], q: float) -> float:
    """Linear-interpolated quantile ``q`` of ``xs``."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = (len(s) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def _digest(rows: list) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def start_session(cfg: dict, app: str):
    """``get_spark``, timed; the tracer when this is a traced run."""
    from rc_scanner_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(app)
    start_s = time.perf_counter() - t
    tracer = tracing.Tracer(spark) if cfg["trace"] else None
    return spark, tracer, start_s


# -- lake_sql / lake_llm ------------------------------------------------------


def lake_order(workload: str, seed: int) -> list[str]:
    """Seeded order of the workload's queries; a share group (the
    near-dup trio) stays contiguous and in bench.py's order."""
    groups: list[list[str]] = []
    for name in LAKE[workload]:
        if groups and bench._share_group(groups[-1][-1]) == bench._share_group(name):
            groups[-1].append(name)
        else:
            groups.append([name])
    random.Random(seed).shuffle(groups)
    return [n for g in groups for n in g]


def _oracle_rows(cfg: dict, name: str, sql: str):
    """DuckDB twin result, normalised; cached per (tables, SQL)."""
    from check_oracle import df_to_rows

    key = hashlib.sha256(f"{cfg['sf_dir']}\n{sql}".encode()).hexdigest()[:20]
    path = os.path.join(cfg["cache_dir"], f"oracle-{name}-{key}.pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    import duckdb

    from rc_scanner_spark import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{cfg['sf_dir']}/{t}.parquet')"
        )
    out = df_to_rows(con.execute(sql).df())
    con.close()
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "wb") as f:
        pickle.dump(out, f)
    os.replace(tmp, path)
    return out


def check_query(cfg: dict, name: str, spec, pdf, expected: dict) -> str | None:
    """None when the Spark output is right, else why not.  Queries
    with a DuckDB twin are compared with tools/check_oracle.py's
    normalisation and float tolerance; the rows-only ones against the
    row count and order-insensitive digest in ``expected.json``."""
    from check_oracle import df_to_rows, rows_equal

    cols, rows = df_to_rows(pdf)
    if spec.sql is None:
        got = {"rows": len(rows), "digest": _digest(rows)}
        want = expected.get(name)
        return None if got == want else f"rows-only {got} != {want}"
    ocols, orows = _oracle_rows(cfg, name, spec.sql)
    if cols != ocols:
        return f"columns {cols} != {ocols}"
    ok, why = rows_equal(rows, orows)
    return None if ok else f"{why} (spark={len(rows)} oracle={len(orows)} rows)"


def run_lake(cfg: dict) -> dict:
    from rc_scanner_spark.operators.dedup import release_caches
    from rc_scanner_spark.queries import build_registry

    workload, sf_dir = cfg["workload"], cfg["sf_dir"]
    spark, tracer, start_s = start_session(cfg, f"perfbench-{workload}")
    t = time.perf_counter()
    registry = build_registry()
    registry["scan_verb"].fn(spark, sf_dir).count()
    spark.sql(ICU_WARMUP).collect()
    warmup_s = time.perf_counter() - t
    ready = time.time()

    order = lake_order(workload, cfg["seed"])
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f).get(f"sf{cfg['sf']}", {})
    attempted = failed = 0
    failures: dict[str, str] = {}
    rows_out: dict[str, int] = {}

    def one_pass(tag: str) -> tuple[float, dict[str, float]]:
        """One pass over ``order``: checked (tag 'check') or a noop
        write per query, with bench.py's cache-clearing rule."""
        nonlocal attempted, failed
        times: dict[str, float] = {}
        t_pass = time.perf_counter()
        for i, name in enumerate(order):
            if not (i and bench._share_group(order[i - 1]) == bench._share_group(name)):
                spark.catalog.clearCache()
                release_caches()
            spec = registry[name]
            attempted += 1
            t0 = time.perf_counter()
            try:
                if tracer:
                    df = tracer.build(name, tag, spec.fn, spark, sf_dir)
                else:
                    df = spec.fn(spark, sf_dir)
                if tag == "check":
                    pdf = df.toPandas()
                    if cfg.get("plant") and i == 0:
                        pdf = pdf.iloc[:-1]  # a planted wrong output
                    rows_out[name] = len(pdf)
                    why = check_query(cfg, name, spec, pdf, expected)
                    if why:
                        raise AssertionError(why)
                elif tracer:
                    tracer.execute(name, tag, df)
                else:
                    df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # a raising or wrong query is a failure
                failed += 1
                failures[f"{tag}:{name}"] = f"{type(e).__name__}: {str(e)[:300]}"
            times[name] = time.perf_counter() - t0
        return time.perf_counter() - t_pass, times

    # The checked pass is also the JIT warm-up.  A timed pass that would
    # overrun --seconds does not start, so the pass count does not flip
    # with small changes in speed.
    check_s, _ = one_pass("check")
    passes: list[float] = []
    per_query: dict[str, list[float]] = {n: [] for n in order}
    t_window = time.perf_counter()
    while (
        len(passes) < MIN_PASSES
        or time.perf_counter() - t_window + median(passes) <= cfg["seconds"]
    ):
        wall, times = one_pass(f"pass{len(passes)}")
        passes.append(wall)
        for n, s in times.items():
            per_query[n].append(s)
    lat = [s for xs in per_query.values() for s in xs]
    out = {
        "ready": ready,
        "attempted": attempted,
        "failed": failed,
        "failures": failures,
        "e2e": {
            "pass_s": median(passes),
            "latency_p50_s": median(lat),
            "latency_p90_s": _pctl(lat, 0.9),
        },
        "extra": {
            "order": order,
            "check_pass_s": check_s,
            "passes_s": passes,
            "latency_samples": len(lat),
        },
        "layers": {"session.start_s": start_s, "session.warmup_s": warmup_s},
    }
    for n, xs in per_query.items():
        out["layers"][f"queries.{n}.p50_s"] = median(xs)
    if tracer:
        out["layers"].update(tracer.lake_layers(order, len(passes)))
        out["trace_ctx"] = {"order": order, "passes": passes, "rows_out": rows_out}
    return out


def lake_log_layers(log: dict, ctx: dict, layers: dict) -> dict:
    """Event-log layers of the timed passes of a traced lake run."""
    order, passes = ctx["order"], ctx["passes"]
    n = len(passes)
    tags = {f"pass{k}" for k in range(n)}

    def jobs(kind: str, names=None) -> list[int]:
        out = []
        for j, job in log["jobs"].items():
            parts = job["group"].split("|")
            if len(parts) == 3 and parts[1] in tags and (kind is None or parts[0] == kind):
                if names is None or parts[2] in names:
                    out.append(j)
        return out

    out = tracing.exec_layers(log, jobs(None), n)
    out["queries.build_jobs"] = len(jobs("build")) / n
    exec_wall = tracing.job_wall_s(log, jobs("exec")) / n
    catalyst = sum(layers[f"catalyst.{k}_s"] for k in ("analysis", "optimization", "planning"))
    out["exec.driver_gap_s"] = (
        sum(passes) / n - layers["queries.build_s"] - catalyst - exec_wall
    )
    out["exec.stage_skew"] = median(
        tracing.stage_skew(log, jobs(None, {q})) for q in order
    )
    dedup = [q for q in DEDUP_PAIRS if q in order]
    if dedup:
        joins = sum(
            sum(v for node, vs in tracing.node_rows(log, jobs(None, {q})).items()
                if "Join" in node for v in vs)
            for q in dedup
        ) / n
        kept = sum(ctx["rows_out"].get(q, 0) for q in dedup)
        out["dedup.pair_yield"] = kept / joins if joins else 0.0
    if "ann_ivf_topk" in order:
        rows = tracing.node_rows(log, jobs(None, {"ann_ivf_topk"}))
        out["similarity.ivf_scored_rows"] = max(
            (v for node, vs in rows.items() if "Join" in node for v in vs), default=0
        )
    return out


# -- scanner_stream -----------------------------------------------------------


def _offset(v) -> int:
    """A source offset as the progress reports it ({'line': n})."""
    if isinstance(v, str):
        v = ast.literal_eval(v)
    return int(v["line"]) if v else 0


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _batch_end(p: dict) -> float:
    return _epoch(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000.0


def flagged_rows(out_dir: str) -> list[dict]:
    rows = []
    for dirpath, _dirs, files in os.walk(out_dir):
        for fn in files:
            if fn.startswith("part-"):
                with open(os.path.join(dirpath, fn)) as f:
                    rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def check_stream(flags: list[dict], want: dict, twin: set) -> list[str]:
    """Mismatches between the flag log and the expected flags.

    ``want`` is title -> filenames of its matching events, re-derived
    in Python (events.expected_flags); ``twin`` is the (filter, title)
    set of the batch twin ``scanner.scan`` over the same events.
    Which revision of a title wins is not checked: dropDuplicates
    keeps one that depends on batch boundaries."""
    bad = []
    got = {(r["filter"], r["title"]) for r in flags}
    want_pairs = {("userboxes", t) for t in want}
    bad += [f"flag log vs expected: {p}" for p in sorted(got ^ want_pairs)]
    bad += [f"batch twin vs expected: {p}" for p in sorted(twin ^ want_pairs)]
    if len(flags) != len(got):
        bad.append(f"{len(flags) - len(got)} titles flagged more than once")
    bad += [
        f"not a matching event of its title: {r['title']} {r['filename']}"
        for r in flags
        if r["filename"] not in want.get(r["title"], ())
    ]
    return bad


def run_stream(cfg: dict) -> dict:
    from rc_scanner_spark.filterlist import filterlist
    from rc_scanner_spark.scanner import scan
    from rc_scanner_spark.schemas import CHANGE_SCHEMA
    from rc_scanner_spark.sources.sse import RcChangeDataSource, _row
    from rc_scanner_spark.streaming.pipeline import build_pipeline, start_flaglog_sink

    from events import expected_flags, make_stream

    run_dir, rate, n = cfg["run_dir"], cfg["rate"], cfg["events"]
    spec = filterlist["userboxes"]
    spark, tracer, start_s = start_session(cfg, "perfbench-scanner_stream")
    t = time.perf_counter()
    spark.dataSource.register(RcChangeDataSource)
    users = spark.read.parquet(os.path.join(run_dir, "users.parquet"))
    revisions = spark.read.parquet(os.path.join(run_dir, "revisions.parquet"))
    users.count()
    spark.sql(ICU_WARMUP).collect()
    warmup_s = time.perf_counter() - t

    with open(os.path.join(run_dir, "port")) as f:
        url = f"http://127.0.0.1:{f.read().strip()}/stream"
    changes = spark.readStream.format("rcstream").option("url", url).load()
    calls = tracer.py4j_calls if tracer else 0
    t = time.perf_counter()
    flagged = build_pipeline(changes, spec, users, revisions)
    build_s = time.perf_counter() - t
    build_calls = (tracer.py4j_calls - calls) if tracer else 0
    if tracer:
        tracer.wrap_sink_writes()
    out_dir = os.path.join(run_dir, "flaglog")
    query = start_flaglog_sink(flagged, out_dir, os.path.join(run_dir, "checkpoint"))

    progress: dict[int, dict] = {}
    committed = 0
    ready = None
    deadline = time.time() + cfg["lead_s"] + cfg["seconds"] + cfg["drain_s"] + cfg["grace_s"]
    try:
        while committed < n and time.time() < deadline and query.exception() is None:
            time.sleep(0.25)
            for p in query.recentProgress:
                if p.numInputRows:
                    progress[p.batchId] = json.loads(p.json)
            if progress:
                committed = max(_offset(p["sources"][0]["endOffset"]) for p in progress.values())
                if ready is None:
                    ready = _batch_end(progress[min(progress)])
    finally:
        error = query.exception()
        query.stop()
    ready = ready or time.time()
    with open(os.path.join(run_dir, "t0")) as f:
        t0 = float(f.read())

    # Event i is due at t0 + i/rate; its latency runs until the commit
    # of the micro-batch whose offsets [start, end) hold it.  Events due
    # in the lead-in (cold start, warm-up batches) are not measured.
    win_lo = int(cfg["lead_s"] * rate)
    lat: list[float] = []
    measured: list[dict] = []
    for p in sorted(progress.values(), key=lambda p: p["batchId"]):
        s = _offset(p["sources"][0]["startOffset"])
        e = _offset(p["sources"][0]["endOffset"])
        lo, hi = max(s, win_lo), min(e, n)
        if hi > lo:
            end = _batch_end(p)
            lat.extend(end - (t0 + i / rate) for i in range(lo, hi))
            measured.append(p)

    events, users_rows, rev_rows = make_stream(cfg["seed"], n)
    flags = flagged_rows(out_dir)
    if cfg.get("plant") and flags:
        flags = flags[1:]  # a planted wrong output
    batch_events = spark.createDataFrame([_row(e) for e in events], CHANGE_SCHEMA)
    twin = {
        (r["filter"], r["title"])
        for r in scan(batch_events, spec, users, revisions).select("filter", "title").collect()
    }
    bad = check_stream(flags, expected_flags(events, users_rows, rev_rows), twin)
    if error is not None:
        bad.append(f"stream failed: {str(error)[:300]}")
    uncommitted = n - min(committed, n)
    window_s = (n - win_lo) / rate
    out = {
        "ready": ready,
        "attempted": n,
        "failed": min(n, uncommitted + len(bad)),
        "failures": {"uncommitted": uncommitted, "checks": bad[:20]},
        "e2e": {
            "pass_s": median(p["durationMs"]["triggerExecution"] / 1000.0 for p in measured),
            "latency_p50_s": median(lat),
            "latency_p90_s": _pctl(lat, 0.9),
        },
        "extra": {
            "events_per_s": len(lat) / window_s,
            "rate": rate,
            "events": n,
            "measured_batches": len(measured),
            # (events, triggerExecution ms) of every micro-batch with input
            "batches": [
                [p["numInputRows"], p["durationMs"]["triggerExecution"]]
                for p in sorted(progress.values(), key=lambda p: p["batchId"])
            ],
            "flagged_titles": len({r["title"] for r in flags}),
        },
        "layers": {
            "session.start_s": start_s,
            "session.warmup_s": warmup_s,
            "queries.build_s": build_s,
        },
    }
    if tracer:
        out["layers"].update(tracing.stream_progress_layers(measured))
        out["layers"].update(tracing.flaglog_files(out_dir, [p["batchId"] for p in measured]))
        out["layers"]["queries.build_py4j_calls"] = build_calls
        out["layers"]["sinks.flaglog_write_s"] = median(tracer.sink_writes[-len(measured):])
        out["layers"]["sources.lag_events_p50"] = median(
            min(n, int((_epoch(p["timestamp"]) - t0) * rate) + 1)
            - _offset(p["sources"][0]["endOffset"])
            for p in measured
        )
        out["layers"]["sources.parse_events_per_s"] = tracing.parse_rate(events)
        out["layers"].update(
            tracing.scanner_yields(batch_events, spec, users, revisions, n)
        )
        out["trace_ctx"] = {"batches": [p["batchId"] for p in measured]}
    return out


def stream_log_layers(log: dict, ctx: dict) -> dict:
    """Event-log layers of the measured micro-batches, per batch."""
    batches = {str(b) for b in ctx["batches"]}
    jobs = [j for j, job in log["jobs"].items() if job["batch"] in batches]
    out = tracing.exec_layers(log, jobs, len(batches))
    out["exec.stage_skew"] = median(
        tracing.stage_skew(log, [j for j in jobs if log["jobs"][j]["batch"] == b])
        for b in batches
    )
    return out


def main() -> None:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    stream = cfg["workload"] == "scanner_stream"
    out = (run_stream if stream else run_lake)(cfg)
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    out["e2e"]["peak_rss_mb"] = vm_hwm_mb(jvm_pid) + vm_hwm_mb()
    spark.stop()  # flushes and closes the event log
    ctx = out.pop("trace_ctx", None)
    if ctx is not None:
        log = tracing.read_event_log(cfg["event_log_dir"])
        if stream:
            out["layers"].update(stream_log_layers(log, ctx))
        else:
            out["layers"].update(lake_log_layers(log, ctx, out["layers"]))
    tmp = os.path.join(cfg["run_dir"], "result.json.tmp")
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, os.path.join(cfg["run_dir"], "result.json"))


if __name__ == "__main__":
    main()
