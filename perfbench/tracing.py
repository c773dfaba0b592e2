"""The traced run: timers around the program's public functions, Spark
job groups per query and pass, and a parser for Spark's event log.

Nothing here runs in an untraced run.  ``run.py`` turns the event log
on through the ``spark-defaults.conf`` it writes into the run's
``SPARK_CONF_DIR``; ``get_spark`` itself is untouched.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict

def median(xs) -> float:
    """Median of an iterable; 0.0 when it is empty."""
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Tracer:
    """Counts and times calls into the program from the benchmark."""

    def __init__(self, spark) -> None:
        import rc_scanner_spark.tables as tables

        self.py4j_calls = 0
        self.load_calls = 0
        self.load_s = 0.0
        # (tag, name) -> {"build_s", "py4j", "load_calls", "load_s", phases}
        self.queries: dict[tuple[str, str], dict] = defaultdict(dict)
        self.sink_writes: list[float] = []

        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted_send(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counted_send

        load = tables.load_table

        def timed_load(*args, **kwargs):
            t = time.perf_counter()
            try:
                return load(*args, **kwargs)
            finally:
                self.load_calls += 1
                self.load_s += time.perf_counter() - t

        tables.load_table = timed_load

    # -- lake -----------------------------------------------------------
    def build(self, name: str, tag: str, fn, spark, sf_dir: str):
        """Call ``spec.fn`` under the job group ``build|tag|name``."""
        sc = spark.sparkContext
        sc.setJobGroup(f"build|{tag}|{name}", name)
        calls, loads, load_s = self.py4j_calls, self.load_calls, self.load_s
        t = time.perf_counter()
        df = fn(spark, sf_dir)
        rec = self.queries[(tag, name)]
        rec["build_s"] = time.perf_counter() - t
        rec["py4j"] = self.py4j_calls - calls
        rec["load_calls"] = self.load_calls - loads
        rec["load_s"] = self.load_s - load_s
        sc.setJobGroup(f"exec|{tag}|{name}", name)
        return df

    def execute(self, name: str, tag: str, df) -> None:
        """Plan ``df`` to read Catalyst's phase times, then run the
        noop write (which plans again; the tracing overhead shows it)."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        rec = self.queries[(tag, name)]
        for k in ("analysis", "optimization", "planning"):
            p = phases.get(k)
            rec[k] = p.get().durationMs() / 1000.0 if p.isDefined() else 0.0
        df.write.format("noop").mode("overwrite").save()

    def lake_layers(self, order: list[str], n_passes: int) -> dict:
        """Per-pass means over the timed passes, from the tracer alone
        (the event-log part is added by ``workloads.lake_log_layers``)."""
        tags = [f"pass{k}" for k in range(n_passes)]
        recs = [self.queries[(t, n)] for t in tags for n in order]
        per_pass = lambda key: sum(r.get(key, 0.0) for r in recs) / n_passes  # noqa: E731
        out = {
            "tables.load_calls": per_pass("load_calls"),
            "tables.load_s": per_pass("load_s"),
            "queries.build_s": per_pass("build_s"),
            "queries.build_py4j_calls": per_pass("py4j"),
            "catalyst.analysis_s": per_pass("analysis"),
            "catalyst.optimization_s": per_pass("optimization"),
            "catalyst.planning_s": per_pass("planning"),
        }
        for n in order:
            out[f"queries.{n}.build_s"] = median(self.queries[(t, n)]["build_s"] for t in tags)
        return out

    # -- stream ---------------------------------------------------------
    def wrap_sink_writes(self) -> None:
        """Time every ``DataFrameWriter.json`` call: the flag-log sink
        writes each epoch with one."""
        from pyspark.sql.readwriter import DataFrameWriter

        json_write = DataFrameWriter.json

        def timed_json(writer, *args, **kwargs):
            t = time.perf_counter()
            try:
                return json_write(writer, *args, **kwargs)
            finally:
                self.sink_writes.append(time.perf_counter() - t)

        DataFrameWriter.json = timed_json


def stream_progress_layers(measured: list[dict]) -> dict:
    """Medians of the public StreamingQueryProgress over the measured
    micro-batches, plus the state at the end."""
    dur = lambda k: median(p["durationMs"].get(k, 0) / 1000.0 for p in measured)  # noqa: E731
    last = measured[-1] if measured else {"stateOperators": []}
    state = last.get("stateOperators") or [{}]
    return {
        "stream.batches": len(measured),
        "stream.events_per_batch_p50": median(p["numInputRows"] for p in measured),
        "stream.batch_p50_s": dur("triggerExecution"),
        "stream.latest_offset_s": dur("latestOffset"),
        "stream.query_planning_s": dur("queryPlanning"),
        "stream.add_batch_s": dur("addBatch"),
        "stream.wal_commit_s": dur("walCommit"),
        "stream.commit_offsets_s": dur("commitOffsets"),
        "stream.state_rows_end": sum(s.get("numRowsTotal", 0) for s in state),
        "stream.state_memory_bytes_end": sum(s.get("memoryUsedBytes", 0) for s in state),
        "stream.state_commit_s": median(
            sum(s.get("commitTimeMs", 0) for s in (p.get("stateOperators") or [])) / 1000.0
            for p in measured
        ),
    }


def parse_rate(events: list[dict], reps: int = 3) -> float:
    """Events/s through ``parse_sse_events`` plus row coercion, over
    the frames the generator sends, timed outside the stream."""
    from rc_scanner_spark.sources.sse import _row, parse_sse_events

    lines = []
    for i, e in enumerate(events):
        lines += [f"id: {i}", f"data: {json.dumps(e, separators=(',', ':'))}", ""]
    best = []
    for _ in range(reps):
        t = time.perf_counter()
        for frame in parse_sse_events(lines):
            _row(json.loads(frame["data"]))
        best.append(time.perf_counter() - t)
    return len(events) / median(best)


def scanner_yields(events, spec, users, revisions, n: int) -> dict:
    """Selectivity of the scanner's stages over the offered events, with
    the filter's own predicates: rows reaching the text join / rows in,
    and flagged rows / texts fetched."""
    from pyspark.sql import functions as F

    df = spec.apply_attribute_filter(events).join(F.broadcast(users), "user", "left")
    df = df.filter(F.col("editcount").isNotNull() & spec.editcount_predicate(F.col("editcount")))
    to_join = df.count()
    texts = df.join(revisions, df["revision.new"] == revisions["revid"]).filter(
        F.col("text").isNotNull()
    )
    fetched = texts.count()
    flagged = texts.filter(F.size(spec.hits(F.col("text"))) > 0).count()
    return {
        "scanner.filter_yield": to_join / n if n else 0.0,
        "scanner.match_yield": flagged / fetched if fetched else 0.0,
    }


def flaglog_files(out_dir: str, epochs: list[int]) -> dict:
    """Part files and bytes per measured epoch, counted on disk."""
    files, sizes = [], []
    for e in epochs:
        d = os.path.join(out_dir, f"epoch={e}")
        parts = [f for f in os.listdir(d) if f.startswith("part-")] if os.path.isdir(d) else []
        files.append(len(parts))
        sizes.append(sum(os.path.getsize(os.path.join(d, f)) for f in parts))
    return {"sinks.flaglog_files": median(files), "sinks.flaglog_bytes": median(sizes)}


# -- event log ---------------------------------------------------------------


def read_event_log(log_dir: str) -> dict:
    """Jobs, stages, tasks and SQL metrics from the one event log the
    run's session wrote under ``log_dir``."""
    names = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = defaultdict(
        lambda: {"tasks": [], "cpu": 0, "deser": 0, "sr": 0, "sw": 0, "fetch": 0,
                 "spill": 0, "python": False}
    )
    exec_nodes: dict[int, dict[int, str]] = defaultdict(dict)  # exec -> acc -> node
    acc_sum: dict[int, int] = defaultdict(int)

    def walk(execution: int, plan: dict) -> None:
        for m in plan.get("metrics", []):
            exec_nodes[execution][m["accumulatorId"]] = f"{plan['nodeName']}|{m['name']}"
        for child in plan.get("children", []):
            walk(execution, child)

    with open(os.path.join(log_dir, names[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id") or "",
                    "batch": props.get("streaming.sql.batchId"),
                    "execution": props.get("spark.sql.execution.id"),
                    "start": ev["Submission Time"],
                    "end": ev["Submission Time"],
                    "stages": ev["Stage IDs"],
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stages[ev["Stage ID"]]
                st["tasks"].append(m.get("Executor Run Time", 0))
                st["cpu"] += m.get("Executor CPU Time", 0)
                st["deser"] += m.get("Executor Deserialize Time", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                st["fetch"] += sr.get("Fetch Wait Time", 0)
                st["sw"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                for a in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if "Python workers" in str(a.get("Name")):
                        st["python"] = True
                    try:  # SQL metric updates are logged as strings
                        acc_sum[a["ID"]] += int(a.get("Update"))
                    except (TypeError, ValueError):
                        pass
            elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                walk(ev["executionId"], ev["sparkPlanInfo"])
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc, value in ev.get("accumUpdates", []):
                    acc_sum[acc] += value
    return {"jobs": jobs, "stages": stages, "exec_nodes": exec_nodes, "acc": acc_sum}


def exec_layers(log: dict, job_ids: list[int], units: int) -> dict:
    """exec.* metrics over ``job_ids``, divided by ``units`` (passes or
    micro-batches)."""
    jobs, stages = log["jobs"], log["stages"]
    sids = sorted({s for j in job_ids for s in jobs[j]["stages"] if s in stages})
    run = sum(sum(stages[s]["tasks"]) for s in sids)
    per = lambda v: v / max(units, 1)  # noqa: E731
    return {
        "exec.jobs": per(len(job_ids)),
        "exec.stages": per(len(sids)),
        "exec.tasks": per(sum(len(stages[s]["tasks"]) for s in sids)),
        "exec.job_wall_s": per(job_wall_s(log, job_ids)),
        "exec.task_run_s": per(run / 1000.0),
        "exec.task_cpu_s": per(sum(stages[s]["cpu"] for s in sids) / 1e9),
        "exec.task_deser_s": per(sum(stages[s]["deser"] for s in sids) / 1000.0),
        "exec.shuffle_read_bytes": per(sum(stages[s]["sr"] for s in sids)),
        "exec.shuffle_write_bytes": per(sum(stages[s]["sw"] for s in sids)),
        "exec.fetch_wait_s": per(sum(stages[s]["fetch"] for s in sids) / 1000.0),
        "exec.spill_bytes": per(sum(stages[s]["spill"] for s in sids)),
        "exec.python_run_s": per(
            sum(sum(stages[s]["tasks"]) for s in sids if stages[s]["python"]) / 1000.0
        ),
    }


def job_wall_s(log: dict, job_ids: list[int]) -> float:
    """Wall time during which at least one of these jobs ran."""
    spans = sorted((log["jobs"][j]["start"], log["jobs"][j]["end"]) for j in job_ids)
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in spans:
        if cur_hi is None or lo > cur_hi:
            total += (cur_hi - cur_lo) if cur_hi is not None else 0
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    total += (cur_hi - cur_lo) if cur_hi is not None else 0
    return total / 1000.0


def stage_skew(log: dict, job_ids: list[int]) -> float:
    """max / median task run time in the longest stage of these jobs."""
    stages = log["stages"]
    sids = {s for j in job_ids for s in log["jobs"][j]["stages"] if s in stages}
    if not sids:
        return 0.0
    longest = max(sids, key=lambda s: sum(stages[s]["tasks"]))
    tasks = stages[longest]["tasks"]
    med = median(tasks)
    return max(tasks) / med if med else 1.0


def node_rows(log: dict, job_ids: list[int]) -> dict[str, list[int]]:
    """'number of output rows' per plan-node kind over the SQL
    executions these jobs belong to."""
    execs = {int(log["jobs"][j]["execution"]) for j in job_ids
             if log["jobs"][j]["execution"] is not None}
    out: dict[str, list[int]] = defaultdict(list)
    for e in execs:
        for acc, label in log["exec_nodes"].get(e, {}).items():
            node, metric = label.split("|", 1)
            if metric == "number of output rows" and acc in log["acc"]:
                out[node].append(log["acc"][acc])
    return out
