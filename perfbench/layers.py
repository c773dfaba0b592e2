"""Write the per-layer table (LAYERS.md) for all three workloads.

    python3 perfbench/layers.py [--seed N] [--seconds S]

Runs each workload once untraced and once traced (``run.py``), then
tabulates the end-to-end metrics of the untraced run, every per-layer
metric of the traced run, and the tracing overhead (traced ÷ untraced
``pass_s`` and ``latency_p50_s``).  Numbers are for the host the script
runs on; do not compare them across hosts.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

#: layer-metric prefix -> (end-to-end metric it should move, where it
#: does the work; where it does little in brackets)
MOVES = {
    "session.": ("setup_s", "all"),
    "tables.": ("pass_s", "lake_sql (scanner_stream)"),
    "queries.": ("pass_s", "build floor: lake_sql; build jobs: lake_llm"),
    "catalyst.": ("pass_s", "lake_sql (lake_llm)"),
    "exec.": ("pass_s, latency_p50_s", "lake_sql, lake_llm; per batch on scanner_stream"),
    "dedup.": ("pass_s", "lake_llm"),
    "similarity.": ("pass_s", "lake_llm"),
    "scanner.": ("latency_p50_s, pass_s", "scanner_stream, lake_sql"),
    "sources.": ("latency_p50_s", "scanner_stream"),
    "gen.": ("latency_p50_s (validity)", "scanner_stream"),
    "stream.": ("latency_p50_s, latency_p90_s", "scanner_stream"),
    "sinks.": ("latency_p50_s", "scanner_stream (lake_* use noop)"),
}


def _record(workload: str, seed: int, seconds: float, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True,
    )
    if p.returncode:
        raise SystemExit(f"{workload} trace={trace} failed:\n{p.stderr[-3000:]}")
    return json.loads(p.stdout.strip().splitlines()[-2])


def _fmt(v) -> str:
    if v is None:
        return "—"
    if isinstance(v, float) and not v.is_integer():
        return f"{v:.4g}"
    return f"{int(v):,}"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"])
    a = ap.parse_args()

    plain = {w: _record(w, a.seed, a.seconds, 0) for w in WORKLOADS}
    traced = {w: _record(w, a.seed, a.seconds, 1) for w in WORKLOADS}
    host = plain[WORKLOADS[0]]["host"]
    lines = [
        "# Per-layer table",
        "",
        f"Written by `python3 perfbench/layers.py --seed {a.seed} --seconds {a.seconds:g}` "
        f"on {time.strftime('%Y-%m-%d')}: {host['cpu_count']} cores, "
        f"calibration loop {host['calib_start_s']} s, load average "
        f"{host['loadavg_start'][0]} at the start.  One untraced and one traced run "
        "per workload; do not compare these numbers across hosts.",
        "",
        "Lake layers are per pass (means over the timed passes); stream layers are "
        "per measured micro-batch (medians, or per-batch means for `exec.*`).",
        "",
        "## End to end (untraced runs)",
        "",
        "| metric | " + " | ".join(WORKLOADS) + " |",
        "|---|" + "---|" * len(WORKLOADS),
    ]
    units = {k: m["unit"] for r in plain.values() for k, m in r["end_to_end"].items()}
    for k in sorted(units):
        lines.append(f"| `{k}` ({units[k]}) | " + " | ".join(
            _fmt(plain[w]["end_to_end"].get(k, {}).get("value")) for w in WORKLOADS) + " |")
    lines += [
        "",
        "## Tracing overhead (traced ÷ untraced)",
        "",
        "| metric | " + " | ".join(WORKLOADS) + " |",
        "|---|" + "---|" * len(WORKLOADS),
    ]
    for k in ("pass_s", "latency_p50_s"):
        lines.append(f"| `{k}` | " + " | ".join(
            _fmt(traced[w]["result"]["e2e"][k] / plain[w]["result"]["e2e"][k])
            for w in WORKLOADS) + " |")
    lines += [
        "",
        "## Per layer (traced runs)",
        "",
        "| layer metric | should move | works on | " + " | ".join(WORKLOADS) + " |",
        "|---|---|---|" + "---|" * len(WORKLOADS),
    ]
    names = sorted({k for r in traced.values() for k in r["result"]["layers"]})
    for k in names:
        moves, where = next((v for p, v in MOVES.items() if k.startswith(p)), ("", ""))
        lines.append(f"| `{k}` | {moves} | {where} | " + " | ".join(
            _fmt(traced[w]["result"]["layers"].get(k)) for w in WORKLOADS) + " |")
    with open(os.path.join(HERE, "LAYERS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()
