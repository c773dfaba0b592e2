"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root.  Workloads: ``lake_sql`` and ``lake_llm``
(bench.py's headline queries split in two, at sf0.1) and
``scanner_stream`` (the live scanner fed by an open-loop SSE
generator).  Each run starts its own Spark session in a child process,
checks every output, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the ``end_to_end`` metrics of BENCHMARK.json (``--trace 0``) or
its ``per_layer`` metrics (``--trace 1``).  The line before it is the
full run record: every metric, the host telemetry and any failures.
Everything a run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from host import Telemetry  # noqa: E402

WORKLOADS = ("lake_sql", "lake_llm", "scanner_stream")
SF = 0.1  # the lake tables are fixed (datagen.SEED); the run seed orders the queries
#: events/s offered.  On a 4-core host a micro-batch costs 1 to 1.6 s
#: plus about 2 ms per event, so at 100/s the per-event work is a fifth of a
#: batch and latency is set by the per-batch cost.  At 300/s it is three
#: fifths: the cold-start backlog takes about six batches to drain and
#: five seeds spread 45% (IQR / median) on pass_s, past the 0.25 bound.
STREAM_RATE = 100.0
STREAM_LEAD_S = 16.0  # cold start and warm-up batches, not measured
STREAM_DRAIN_S = 20.0  # after the last event is due, for the last batches
STREAM_GRACE_S = 30.0  # then the stream is stopped whatever it has committed
SMOKE_SF, SMOKE_LEAD_S = 0.001, 6.0
#: what a workload process may take beyond its measured window: set-up,
#: the checked lake pass or the stream's checks, and the stop
CHILD_MARGIN_S = 150.0
UNITS = {"setup_s": "s", "pass_s": "s", "latency_p50_s": "s", "latency_p90_s": "s",
         "peak_rss_mb": "MiB", "events_per_s": "1/s", "failed_frac": "ratio"}


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def lake_tables(cache: str, sf: float) -> str:
    """The lake tables for ``sf``, generated once per checkout."""
    from datagen import SEED, generate

    path = os.path.join(cache, f"lake-sf{sf}-seed{SEED}")
    if not os.path.isdir(path):
        tmp = f"{path}.{os.getpid()}"
        generate(tmp, sf)
        os.replace(tmp, path)
    return path


def stream_inputs(run_dir: str, seed: int, n: int) -> None:
    """The users and revisions dimensions the pipeline joins."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from events import make_stream

    _, users, revisions = make_stream(seed, n)
    pq.write_table(
        pa.table({"user": [u for u, _ in users], "editcount": [c for _, c in users]}),
        os.path.join(run_dir, "users.parquet"),
    )
    pq.write_table(
        pa.table({"revid": [r for r, _ in revisions], "text": [t for _, t in revisions]}),
        os.path.join(run_dir, "revisions.parquet"),
    )


def _spark_conf(run_dir: str, trace: bool) -> str:
    conf = os.path.join(run_dir, "conf")
    os.makedirs(conf)
    lines = ["spark.ui.showConsoleProgress false"]
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        lines += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{log_dir}",
            "spark.eventLog.compress false",
            "spark.eventLog.rolling.enabled false",
        ]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.write("\n".join(lines) + "\n")
    return conf


def _stop(proc: subprocess.Popen | None) -> None:
    """End ``proc`` and everything in its process group (the JVM and
    Spark's Python workers outlive the child briefly), and wait until
    the group is empty."""
    if proc is None:
        return
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + 10
        while time.time() < deadline:
            proc.poll()  # reaps the group leader
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.05)
    proc.wait()


def run(args: argparse.Namespace, root: str) -> dict:
    """One run; returns the record (``result`` is None on a crash)."""
    t_start = time.time()
    base = os.path.join(root, ".perfbench")
    cache = os.path.join(base, "cache")
    os.makedirs(cache, exist_ok=True)
    run_dir = os.path.join(base, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    tele = Telemetry()
    try:
        result, log_tail = _run_in(args, root, cache, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": tele.finish(), "result": result,
              "run_wall_s": time.time() - t_start}
    if result is None:
        record["log_tail"] = log_tail
    return record


def _run_in(args: argparse.Namespace, root: str, cache: str, run_dir: str):
    """Generate the inputs, start the generator and the workload process,
    collect the result; every process started here is stopped here."""
    cfg = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": bool(args.trace),
        "plant": args.plant,
        "run_dir": run_dir,
        "cache_dir": cache,
        "event_log_dir": os.path.join(run_dir, "eventlog"),
        "sf": SMOKE_SF if args.smoke else SF,
    }
    timeout = CHILD_MARGIN_S + args.seconds
    if args.workload == "scanner_stream":
        lead = SMOKE_LEAD_S if args.smoke else STREAM_LEAD_S
        n = int(STREAM_RATE * (lead + args.seconds))
        cfg.update(rate=STREAM_RATE, events=n, lead_s=lead, drain_s=STREAM_DRAIN_S,
                   grace_s=STREAM_GRACE_S)
        timeout += lead + STREAM_DRAIN_S + STREAM_GRACE_S
        stream_inputs(run_dir, args.seed, n)
    else:
        cfg["sf_dir"] = lake_tables(cache, cfg["sf"])
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_CONF_DIR=_spark_conf(run_dir, bool(args.trace)),
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "tmp"),
        SPARK_WAREHOUSE_DIR=os.path.join(run_dir, "warehouse"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir}/tmp",
    )
    with open(os.path.join(run_dir, "config.json"), "w") as f:
        json.dump(cfg, f)
    log_path = os.path.join(run_dir, "child.log")
    gen = child = result = None
    with open(log_path, "w") as log:
        try:
            if args.workload == "scanner_stream":
                gen = subprocess.Popen(
                    [sys.executable, os.path.join(HERE, "sse_gen.py"), "--seed", str(args.seed),
                     "--events", str(cfg["events"]), "--rate", str(STREAM_RATE),
                     "--state", run_dir],
                    cwd=root, env=env, stdout=log, stderr=log, start_new_session=True,
                )
                deadline = time.time() + 30
                while not os.path.exists(os.path.join(run_dir, "port")):
                    if gen.poll() is not None or time.time() > deadline:
                        raise RuntimeError("the SSE generator did not start")
                    time.sleep(0.05)
            t_spawn = time.time()
            child = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "workloads.py"),
                 os.path.join(run_dir, "config.json")],
                cwd=root, env=env, stdout=log, stderr=log, start_new_session=True,
            )
            try:
                child.wait(timeout)
            except subprocess.TimeoutExpired:
                pass
            path = os.path.join(run_dir, "result.json")
            if os.path.exists(path):
                with open(path) as f:
                    result = json.load(f)
                result["e2e"]["setup_s"] = result.pop("ready") - t_spawn
        finally:
            _stop(child)
            _stop(gen)
    gen_path = os.path.join(run_dir, "gen.json")
    if result is not None and os.path.exists(gen_path):
        with open(gen_path) as f:
            gen_stats = json.load(f)
        result["extra"]["generator"] = gen_stats
        result["layers"]["gen.late_p99_s"] = gen_stats["late_p99_s"]
        result["layers"]["sources.connections"] = gen_stats["connections"]
    with open(log_path) as f:
        return result, f.read()[-4000:]


def main() -> None:
    ap = argparse.ArgumentParser(description="rc_scanner_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001 lake, short stream lead-in")
    ap.add_argument("--plant", action="store_true", help="corrupt one output (self-test)")
    args = ap.parse_args()
    # A terminated run still stops its workload and generator (finally).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    for need in ("rc_scanner_spark/__init__.py", "bench.py", "tools/check_oracle.py",
                 "BENCHMARK.json"):
        if not os.path.isfile(os.path.join(root, need)):
            _die(f"{need} not found: run from the root of a checkout of the program")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)

    record = run(args, root)
    result = record["result"]
    if result is None:
        print(json.dumps(record), file=sys.stderr)
        _die("the workload process produced no result")
    all_metrics = {**result["layers"], **result["e2e"]}
    if args.trace:
        for k in ("pass_s", "latency_p50_s"):
            all_metrics[f"trace.{k}"] = result["e2e"][k]
    listed = spec["per_layer"] if args.trace else spec["end_to_end"]
    missing = [m["name"] for m in listed if m["name"] not in all_metrics]
    if missing:
        print(json.dumps(record), file=sys.stderr)
        _die(f"metrics not measured: {missing}")
    # Every end-to-end metric the run measured, with its unit; those not
    # in BENCHMARK.json are too noisy or too thinly sampled to gate on.
    e2e = dict(result["e2e"], failed_frac=result["failed"] / result["attempted"])
    if "events_per_s" in result["extra"]:
        e2e["events_per_s"] = result["extra"]["events_per_s"]
    record["end_to_end"] = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    print(json.dumps(record))
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": result["attempted"],
                "failed": result["failed"],
                "metrics": {
                    m["name"]: {"value": all_metrics[m["name"]], "unit": m["unit"]}
                    for m in listed
                },
            }
        )
    )


if __name__ == "__main__":
    main()
