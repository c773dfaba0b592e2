"""Self-test of the benchmark.

    python -m pytest perfbench -q

The smoke runs start Spark (about a minute each): sf0.001 lake tables
and a short stream lead-in, checking metric names, units and the shape
of the result line; a planted wrong output must count as a failure.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def _run(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    last = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(last["attempted"], int) and last["attempted"] >= 1
    assert isinstance(last["failed"], int)
    return last


def _check_metrics(last: dict, listed: list[dict]) -> None:
    assert set(last["metrics"]) == {m["name"] for m in listed}
    for m in listed:
        got = last["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float)) and got["value"] == got["value"]


def test_benchmark_json_contract():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert SPEC["paths"] == ["perfbench"]
    assert 1 <= SPEC["run_seconds"] <= 60
    names = [w["name"] for w in SPEC["workloads"]]
    assert 2 <= len(names) <= 8
    from run import WORKLOADS

    for w in SPEC["workloads"]:
        assert set(w) == {"name", "why"} and w["name"] in WORKLOADS
        assert 0 < len(w["why"]) <= 200 and "\n" not in w["why"]
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    for m in SPEC["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"} and 0 < m["bound"] <= 0.25
    for m in SPEC["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    all_names = names + list(e2e) + [m["name"] for m in SPEC["per_layer"]]
    assert all(NAME.match(n) for n in all_names)
    assert len(set(names)) == len(names)
    assert all(UNIT.match(m["unit"]) for m in SPEC["end_to_end"] + SPEC["per_layer"])


def test_lake_order_is_seeded_and_keeps_the_share_group():
    from workloads import LAKE, lake_order

    for wl in LAKE:
        a, b = lake_order(wl, 1), lake_order(wl, 1)
        assert a == b and sorted(a) == sorted(LAKE[wl])
    orders = {tuple(lake_order("lake_llm", s)) for s in range(8)}
    assert len(orders) > 1
    for o in orders:
        i = o.index("dedup_minhash_lsh")
        assert o[i : i + 3] == ("dedup_minhash_lsh", "dedup_ngram_jaccard", "dedup_simhash")


def test_stream_events_exercise_every_predicate():
    from events import expected_flags, make_stream

    events, users, revisions = make_stream(7, 3000)
    assert events == make_stream(7, 3000)[0]
    assert len({u for u, _ in users}) == len(users)
    want = expected_flags(events, users, revisions)
    titles = [e["title"] for e in events]
    assert len(set(titles)) < len(titles)  # repeats for the dedup
    assert 0 < len(want) < len(set(titles))
    assert any(len(f) > 1 for f in want.values())  # the dedup must drop some


def test_check_stream_flags_every_kind_of_mismatch():
    from workloads import check_stream

    want = {"A": {"u_1"}, "B": {"u_2", "u_3"}}
    twin = {("userboxes", "A"), ("userboxes", "B")}
    good = [
        {"filter": "userboxes", "title": "A", "filename": "u_1"},
        {"filter": "userboxes", "title": "B", "filename": "u_3"},
    ]
    assert check_stream(good, want, twin) == []
    assert check_stream(good[:1], want, twin)  # a missing title
    assert check_stream(good + [dict(good[0])], want, twin)  # flagged twice
    wrong = [good[0], {**good[1], "filename": "u_9"}]
    assert check_stream(wrong, want, twin)  # not a matching event
    assert check_stream(good, want, twin - {("userboxes", "A")})  # twin disagrees


def test_without_the_program_it_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run("--workload", SPEC["workloads"][0]["name"], "--seed", "1", "--seconds", "1",
             "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert "correct" not in p.stdout


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_end_to_end(workload):
    last = _result(_run("--workload", workload, "--seed", "5", "--seconds", "2",
                        "--trace", "0", "--smoke"))
    assert last["correct"] and last["failed"] == 0
    _check_metrics(last, SPEC["end_to_end"])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_traced(workload):
    last = _result(_run("--workload", workload, "--seed", "6", "--seconds", "2",
                        "--trace", "1", "--smoke"))
    assert last["correct"]
    _check_metrics(last, SPEC["per_layer"])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_planted_wrong_output_is_a_failed_operation(workload):
    last = _result(_run("--workload", workload, "--seed", "5", "--seconds", "2",
                        "--trace", "0", "--smoke", "--plant"))
    assert not last["correct"] and last["failed"] >= 1
