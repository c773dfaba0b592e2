"""tools/run_query.py's measuring modes: --reps rows under bench.py's
cache rule, --build-only without an action, and one --trace record (in
its own process: the event log must be on before the JVM starts)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from tools import run_query

from .conftest import SF_SMOKE

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_reps_prints_one_row_per_name_and_keeps_share_group(spark, capsys, monkeypatch):
    import rc_scanner_spark.operators.dedup as dedup

    clears = []
    release = dedup.release_caches
    monkeypatch.setattr(dedup, "release_caches", lambda: clears.append(1) or release())
    names = ["scan_verb", "dedup_minhash_lsh", "dedup_ngram_jaccard"]
    assert run_query.main(["--reps", "1", "--sf", SF_SMOKE, *names]) == 0
    rows = [line.split("\t") for line in capsys.readouterr().out.splitlines()]
    assert [r[0] for r in rows] == names
    for r in rows:
        assert len(r) == 3 and r[1] != "ERROR" and float(r[2]) == float(r[1])
    # scan_verb starts the pass; the near-dup pair shares one clear
    assert len(clears) == 2


def test_build_only_launches_no_job(spark):
    from rc_scanner_spark.queries import build_registry

    registry = build_registry()
    sc = spark.sparkContext
    names = ["agg_tpch_q1"]
    registry[names[0]].fn(spark, SF_SMOKE)  # first load: schema read
    try:
        sc.setJobGroup("run-query-build-only", "build only")
        [(_, ts, err)] = run_query.time_queries(
            spark, registry, names, SF_SMOKE, 1, build_only=True
        )
        sc.setJobGroup("run-query-timed", "with the noop write")
        next(run_query.time_queries(spark, registry, names, SF_SMOKE, 1))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert err is None and len(ts) == 1
    tracker = sc.statusTracker()
    assert tracker.getJobIdsForGroup("run-query-build-only") == []
    assert tracker.getJobIdsForGroup("run-query-timed")  # the check is armed


def test_trace_prints_a_layer_record():
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "run_query.py"),
         "--trace", "--sf", SF_SMOKE, "agg_tpch_q1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
        env={**os.environ, "SPARK_GRAFT_CPUS": "2"},
    )
    assert out.returncode == 0, out.stderr[-2000:]
    rec = json.loads(out.stdout.splitlines()[-1])
    assert rec["query"] == "agg_tpch_q1"
    assert rec["build_s"] > 0 and rec["build_py4j_calls"] > 0
    for phase in ("analysis", "optimization", "planning"):
        assert f"catalyst.{phase}_s" in rec
    assert rec["exec.tasks"] > 0 and rec["exec.jobs"] > 0
