"""Streaming-path tests: file replay through the scanner pipeline,
stateful dedup across micro-batches and restarts, the flag log's JSON
file sink, and the custom rcstream DataSource (offset tracking, SSE
parsing, reconnects) against a loopback SSE server.  All offline."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from rc_scanner_spark.filters import FilterSpec
from rc_scanner_spark.schemas import CHANGE_SCHEMA
from rc_scanner_spark.sources.sse import RcChangeDataSource
from rc_scanner_spark.streaming.pipeline import (
    CHECKPOINT_MANAGER_KEY,
    FLAGLOG_COLUMNS,
    LOCAL_CHECKPOINT_MANAGER,
    build_pipeline,
    is_local_path,
    read_change_stream,
    start_flaglog_sink,
)

from tests.conftest import make_change, write_changes_jsonl


@pytest.fixture()
def users(spark):
    return spark.createDataFrame([("Alice", 5)], "user string, editcount long")


@pytest.fixture()
def revisions(spark):
    rows = [(1000 + i, "spark text" if i % 2 == 0 else "nothing") for i in range(40)]
    return spark.createDataFrame(rows, "revid long, text string")


def _spec():
    return FilterSpec(
        name="stream-test",
        streamfilter={"type": ("edit",)},
        max_edits=10,
        regexes=("(?i)spark",),
        log_level=2,
    )


def test_change_stream_replay_dedups_across_batches(
    spark, users, revisions, tmp_path
):
    src = tmp_path / "in"
    src.mkdir()
    changes_all = [make_change(i, f"Page{i % 5}") for i in range(20)]
    # four files, one per micro-batch: a title's repeats land in
    # different batches, so the dedup must come from the state store
    for k in range(4):
        write_changes_jsonl(
            str(src / f"part{k}.json"), changes_all[k * 5:(k + 1) * 5]
        )
    changes = read_change_stream(spark, str(src), max_files_per_trigger=1)
    out = build_pipeline(changes, _spec(), users=users, revisions=revisions)
    q = (
        out.writeStream.format("memory")
        .queryName("replay_dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT title, hits FROM replay_dedup_out").collect()
    # titles cycle Page0..Page4; dedup state holds ACROSS micro-batches
    # -> one row per title; only even ids have matching text.
    titles = [r["title"] for r in rows]
    assert len(titles) == len(set(titles))
    assert set(titles) <= {"Page0", "Page1", "Page2", "Page3", "Page4"}
    assert all(r["hits"] == ["(?i)spark"] for r in rows)


def test_file_replay_source(spark, users, revisions, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    write_changes_jsonl(
        str(src / "batch1.json"), [make_change(i, f"T{i}") for i in range(10)]
    )
    changes = read_change_stream(spark, str(src), max_files_per_trigger=1)
    out = build_pipeline(changes, _spec(), users=users, revisions=revisions)
    q = (
        out.writeStream.format("memory")
        .queryName("replay_out")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    n = spark.sql("SELECT count(*) AS n FROM replay_out").first()["n"]
    assert n == 5  # even ids 0,2,4,6,8 have 'spark text'


def test_flaglog_sink_exactly_once_shape(spark, users, revisions, tmp_path):
    src = tmp_path / "in2"
    src.mkdir()
    write_changes_jsonl(
        str(src / "b.json"), [make_change(i, f"U{i}") for i in range(6)]
    )
    changes = read_change_stream(spark, str(src))
    out = build_pipeline(changes, _spec(), users=users, revisions=revisions)
    q = start_flaglog_sink(
        out, str(tmp_path / "flaglog"), str(tmp_path / "ckpt4"), "flsink"
    )
    q.processAllAvailable()
    q.stop()
    logged = spark.read.json(str(tmp_path / "flaglog"))
    assert logged.count() == 3  # even ids 0,2,4
    assert {"filter", "title", "user", "date", "filename", "match_message"} <= set(
        logged.columns
    )


def test_flaglog_reads_skip_uncommitted_part_files(spark, users, revisions, tmp_path):
    """A part file the sink's _spark_metadata log does not list (left by
    a failed attempt) is invisible to spark.read.json and to the array
    export: both return exactly the committed rows."""
    from rc_scanner_spark.sinks.flaglog import export_array

    src = tmp_path / "in"
    src.mkdir()
    write_changes_jsonl(str(src / "a.json"), [make_change(i, f"O{i}") for i in range(6)])
    out_dir = tmp_path / "flaglog"
    flagged = build_pipeline(
        read_change_stream(spark, str(src)), _spec(), users=users, revisions=revisions
    )
    q = start_flaglog_sink(flagged, str(out_dir), str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()
    assert (out_dir / "_spark_metadata").is_dir()
    orphan = dict.fromkeys(FLAGLOG_COLUMNS, "orphan")
    (out_dir / "part-99999-orphan.json").write_text(json.dumps(orphan) + "\n")

    assert sorted(r.title for r in spark.read.json(str(out_dir)).collect()) == [
        "O0",
        "O2",
        "O4",
    ]
    exported = tmp_path / "flagged_changes.json"
    export_array(str(out_dir), str(exported), spark)
    rows = json.loads(exported.read_text())
    assert sorted(r["title"] for r in rows) == ["O0", "O2", "O4"]
    assert all(set(r) == set(FLAGLOG_COLUMNS) for r in rows)


def test_rcstream_live_mode_construction():
    from pyspark.sql.datasource_internal import SimpleInputPartition

    from rc_scanner_spark.sources.sse import LiveChangeReader

    # live mode constructs (buffer starts empty; the feed thread backs
    # off against the unreachable endpoint)
    src = RcChangeDataSource({"url": "https://127.0.0.1:1/sse"})
    r = src.streamReader(CHANGE_SCHEMA)
    try:
        assert isinstance(r, LiveChangeReader)
        # no feed (no connection) until an offset call needs one
        assert r._feed is None
        assert r.initialOffset() == {"line": 0}
        assert r.latestOffset() == {"line": 0}
        (part,) = r.partitions({"line": 0}, {"line": 0})
        assert isinstance(part, SimpleInputPartition)
        assert list(r.getCache({"line": 0}, {"line": 0})) == []
        # live rows never reach an executor-side read
        with pytest.raises(RuntimeError, match="block manager"):
            list(r.read(part))
    finally:
        r.stop()
    # a url is the only way in: file replay is read_change_stream's job
    for options in ({}, {"path": "changes.jsonl"}):
        with pytest.raises(ValueError, match="'url'"):
            RcChangeDataSource(options).streamReader(CHANGE_SCHEMA)


def test_sse_frame_parser():
    from rc_scanner_spark.sources.sse import parse_sse_events

    lines = [
        ": heartbeat comment",
        "event: message",
        'id: ["primary",{"offset":42}]',
        'data: {"title": "A",',
        'data:  "type": "edit"}',
        "",
        "data: not-json-but-still-a-frame",
        "",
    ]
    frames = list(parse_sse_events(lines))
    assert len(frames) == 2
    assert frames[0]["event"] == "message"
    assert frames[0]["id"] == '["primary",{"offset":42}]'
    # multi-line data joins with newline per the EventSource spec
    import json as _json

    obj = _json.loads(frames[0]["data"])
    assert obj == {"title": "A", "type": "edit"}
    assert frames[1]["data"] == "not-json-but-still-a-frame"
    assert frames[1]["id"] is None


def test_sse_parser_unterminated_frame_flushes():
    from rc_scanner_spark.sources.sse import parse_sse_events

    frames = list(parse_sse_events(["data: tail-no-blank-line"]))
    assert [f["data"] for f in frames] == ["tail-no-blank-line"]


FILE_CONTEXT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)


def _checkpoint_manager(q) -> str:
    """Class name of the running query's offset-log file manager."""
    return q._jsq.streamingQuery().offsetLog().fileManager().getClass().getName()


@pytest.mark.parametrize(
    "first_manager",
    [None, FILE_CONTEXT_MANAGER],
    ids=["same_manager", "from_filecontext"],
)
def test_checkpoint_restart_is_exactly_once(
    spark, users, revisions, tmp_path, first_manager
):
    """C2 analog: the reference loses its position on connection drop
    (scanner.py:82-88); checkpointing must resume without reprocessing
    or losing events across a stop/restart.  ``from_filecontext``
    writes the checkpoint's first run under Spark's default FileContext
    manager and restarts it under the local one."""
    src = tmp_path / "ck_in"
    src.mkdir()
    out_dir = str(tmp_path / "ck_out")
    ckpt = str(tmp_path / "ck_ckpt")

    def run():
        stream = read_change_stream(spark, str(src))
        flagged = build_pipeline(stream, _spec(), users=users, revisions=revisions)
        q = start_flaglog_sink(flagged, out_dir, ckpt)
        try:
            q.processAllAvailable()
            return _checkpoint_manager(q)
        finally:
            q.stop()

    write_changes_jsonl(
        str(src / "a.json"), [make_change(i, f"CkA{i}") for i in range(0, 6)]
    )
    if first_manager is None:
        assert run() == LOCAL_CHECKPOINT_MANAGER
    else:
        spark.conf.set(CHECKPOINT_MANAGER_KEY, first_manager)
        try:
            assert run() == first_manager
        finally:
            spark.conf.unset(CHECKPOINT_MANAGER_KEY)
    first = spark.read.json(out_dir).count()
    assert first == 3  # even revisions carry 'spark text'

    # restart from the same checkpoint with one more file present; it
    # flags CkA0 and CkA2 again, which the dedup state must suppress
    write_changes_jsonl(
        str(src / "b.json"),
        [make_change(i, f"CkB{i}") for i in range(6, 12)]
        + [make_change(12, "CkA0"), make_change(14, "CkA2")],
    )
    assert run() == LOCAL_CHECKPOINT_MANAGER
    titles = [r["title"] for r in spark.read.json(out_dir).collect()]
    # batch a NOT reprocessed, batch b fully processed
    assert sorted(titles) == ["CkA0", "CkA2", "CkA4", "CkB10", "CkB6", "CkB8"]


def _state_partitions(q) -> int:
    """numShufflePartitions of the query's (single) state operator, read
    from a micro-batch that processed input."""
    progs = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert progs, q.recentProgress
    return progs[-1]["stateOperators"][0]["numShufflePartitions"]


@pytest.fixture()
def pinned_shuffle_partitions(spark):
    """Pins the session's spark.sql.shuffle.partitions to a value no
    stream start picks (so a leak from any earlier start shows), and
    restores the previous value afterwards."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    pinned = str(spark.sparkContext.defaultParallelism + 5)
    spark.conf.set("spark.sql.shuffle.partitions", pinned)
    yield pinned
    spark.conf.set("spark.sql.shuffle.partitions", old)


def test_flaglog_state_runs_one_partition_per_core(
    spark, users, revisions, tmp_path, pinned_shuffle_partitions
):
    """The flag-log query's dedup state runs one partition per core
    (one wave of state tasks per micro-batch), while the session keeps
    its own batch shuffle-partition count."""
    src = tmp_path / "in"
    src.mkdir()
    write_changes_jsonl(
        str(src / "a.json"), [make_change(i, f"W{i}") for i in range(6)]
    )
    before = pinned_shuffle_partitions
    flagged = build_pipeline(
        read_change_stream(spark, str(src)), _spec(), users=users, revisions=revisions
    )
    q = start_flaglog_sink(flagged, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    try:
        assert spark.conf.get("spark.sql.shuffle.partitions") == before
        q.processAllAvailable()
        assert _state_partitions(q) == spark.sparkContext.defaultParallelism
    finally:
        q.stop()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_flaglog_local_checkpoint_uses_filesystem_manager(
    spark, users, revisions, tmp_path
):
    """A flag log checkpointed on the local file system commits its
    logs through Spark's FileSystem-based manager, and the session's
    own value of the key is the same after the start as before."""
    src = tmp_path / "in"
    src.mkdir()
    write_changes_jsonl(
        str(src / "a.json"), [make_change(i, f"L{i}") for i in range(6)]
    )
    before = spark.conf.get(CHECKPOINT_MANAGER_KEY, None)
    flagged = build_pipeline(
        read_change_stream(spark, str(src)), _spec(), users=users, revisions=revisions
    )
    q = start_flaglog_sink(flagged, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    try:
        assert spark.conf.get(CHECKPOINT_MANAGER_KEY, None) == before
        q.processAllAvailable()
        assert _checkpoint_manager(q) == LOCAL_CHECKPOINT_MANAGER
    finally:
        q.stop()
    assert sorted(r.title for r in spark.read.json(str(tmp_path / "out")).collect()) == [
        "L0",
        "L2",
        "L4",
    ]


def test_is_local_path():
    """Parses the path and the default file system only."""
    assert is_local_path("file:///x", "hdfs://nn:8020")
    assert is_local_path("/x", "file:///")
    assert is_local_path("logs/_checkpoint", "file:///")
    assert not is_local_path("/x", "hdfs://nn:8020")
    assert not is_local_path("hdfs://nn/x", "file:///")
    assert not is_local_path("s3a://b/x", "file:///")


def test_flaglog_failed_start_restores_shuffle_partitions(
    spark, tmp_path, pinned_shuffle_partitions
):
    """A start() that raises must not leave the session at the
    stream's partition count or checkpoint manager."""
    src = tmp_path / "in"
    src.mkdir()
    before = pinned_shuffle_partitions
    # an aggregation without a watermark cannot run in append mode:
    # start() raises at analysis.  It is grouped by the six flag-log
    # columns, so the sink's column select succeeds and start() fails.
    stream = read_change_stream(spark, str(src))
    for c in ("filter", "date", "filename", "match_message"):
        stream = stream.withColumn(c, F.lit("x"))
    counts = stream.groupBy(*FLAGLOG_COLUMNS).count()
    manager_before = spark.conf.get(CHECKPOINT_MANAGER_KEY, None)
    with pytest.raises(Exception, match="(?i)append"):
        start_flaglog_sink(counts, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert spark.conf.get(CHECKPOINT_MANAGER_KEY, None) == manager_before


def test_flaglog_restart_keeps_checkpoint_partitions(
    spark, users, revisions, tmp_path, monkeypatch
):
    """A checkpoint first written at another partition count (16, the
    session default the flag log used to run at) restarts through
    start_flaglog_sink with that count, and its dedup state still
    suppresses every title it flagged before the restart."""
    from pyspark import SparkContext

    src = tmp_path / "in"
    src.mkdir()
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    cores = spark.sparkContext.defaultParallelism
    first_parts = 16 if cores != 16 else 32

    def run():
        stream = read_change_stream(spark, str(src))
        flagged = build_pipeline(stream, _spec(), users=users, revisions=revisions)
        q = start_flaglog_sink(flagged, out_dir, ckpt)
        try:
            q.processAllAvailable()
            return _state_partitions(q)
        finally:
            q.stop()

    write_changes_jsonl(
        str(src / "a.json"), [make_change(i, f"R{i}") for i in range(6)]
    )
    with monkeypatch.context() as m:
        # the checkpoint is first started on a host with first_parts cores
        m.setattr(SparkContext, "defaultParallelism", property(lambda sc: first_parts))
        assert run() == first_parts

    # after the restart: R0/R2/R4 flagged again (must stay suppressed),
    # odd ids unflagged, R12/R14 new flags
    write_changes_jsonl(
        str(src / "b.json"),
        [make_change(i, f"R{i - 6}") for i in range(6, 12)]
        + [make_change(i, f"R{i}") for i in range(12, 16)],
    )
    assert run() == first_parts
    titles = [r["title"] for r in spark.read.json(out_dir).collect()]
    assert sorted(titles) == ["R0", "R12", "R14", "R2", "R4"]


def test_dedup_only_suppresses_flagged_titles(spark, users, tmp_path):
    """A title whose FIRST event does not match must not suppress a
    later matching event for the same title (reference filter_.py:90-102
    dedups against the flag log, i.e. against *matches* only)."""
    jsonl = str(tmp_path / "dedup_flagged.jsonl")
    # id 0: title X, revision 1000 -> non-matching text
    # id 1: title X, revision 1001 -> matching text
    # id 2: title X, revision 1002 -> matching text (true repeat, dropped)
    write_changes_jsonl(jsonl, [make_change(i, "X") for i in range(3)])
    revs = spark.createDataFrame(
        [(1000, "nothing here"), (1001, "all about spark"),
         (1002, "more spark stuff")],
        "revid long, text string",
    )
    src = tmp_path / "in_flagged"
    src.mkdir()
    os.rename(jsonl, str(src / "events.json"))
    changes = read_change_stream(spark, str(src))
    out = build_pipeline(changes, _spec(), users=users, revisions=revs)
    q = (
        out.writeStream.format("memory")
        .queryName("dedup_flagged_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_df"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql(
        "SELECT title, revision.new AS revid FROM dedup_flagged_out"
    ).collect()
    # exactly one flagged row for X, and it is a MATCHING one
    assert len(rows) == 1
    assert rows[0]["title"] == "X"
    assert rows[0]["revid"] in (1001, 1002)


class _LoopbackSSE:
    """Threaded loopback SSE server: streams `n` Change events as
    text/event-stream frames with ids, then drops the connection.
    Records the Last-Event-ID header of every request so resumption
    behavior is observable; on resume it serves only events after the
    presented id.  Without one it starts at event ``now``: a server
    that serves only what is new, as EventStreams does."""

    def __init__(self, n_events=10, drop_after=None, ids=True, delay=0.0, now=0):
        import http.server
        import threading
        import time

        srv = self

        class Handler(http.server.BaseHTTPRequestHandler):
            def do_GET(self):
                last = self.headers.get("Last-Event-ID")
                srv.seen_last_ids.append(last)
                start = int(last) + 1 if last is not None else srv.now
                self.send_response(200)
                self.send_header("Content-Type", "text/event-stream")
                self.end_headers()
                time.sleep(srv.delay)
                stop = srv.n_events if srv.drop_after is None else min(
                    start + srv.drop_after, srv.n_events
                )
                for i in range(start, stop):
                    ev = make_change(i, f"Live{i}")
                    id_line = f"id: {i}\n" if srv.ids else ""
                    frame = f"{id_line}data: {json.dumps(ev)}\n\n"
                    try:
                        self.wfile.write(frame.encode())
                        self.wfile.flush()
                    except BrokenPipeError:
                        return
                # fall through: close the socket (client must reconnect)

            def log_message(self, *a):
                pass

        self.n_events = n_events
        self.drop_after = drop_after
        self.delay = delay
        self.now = now
        self.ids = ids
        self.seen_last_ids = []
        self._httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.port = self._httpd.server_address[1]
        self._t = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._t.start()

    def url(self):
        return f"http://127.0.0.1:{self.port}/sse"

    def close(self):
        self._httpd.shutdown()


def _wait_for(pred, timeout=20.0):
    import time

    deadline = time.time() + timeout
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(0.1)
    return False


def test_sse_loopback_reconnect_and_resume(tmp_path):
    """Live mode against a loopback SSE server that drops the
    connection every 3 events: the feed must reconnect with
    Last-Event-ID and collect all events exactly once."""
    from rc_scanner_spark.sources.sse import _LiveFeed

    srv = _LoopbackSSE(n_events=9, drop_after=3)
    feed = _LiveFeed(srv.url(), timeout=5.0)
    try:
        assert _wait_for(lambda: feed.size() == 9), feed.size()
        ids = [r["id"] for r in feed.slice(0, 9)]
        assert ids == list(range(9))
        # reconnections presented the id of the last received event
        assert srv.seen_last_ids[0] is None
        assert "2" in srv.seen_last_ids and "5" in srv.seen_last_ids
    finally:
        feed.close()
        srv.close()


def test_sse_feed_counts_and_logs_reconnects(caplog):
    """Nothing fails silently: every reconnect is counted on the feed
    and logged once at WARNING with the reason the connection ended."""
    import logging

    from rc_scanner_spark.sources.sse import _LiveFeed

    srv = _LoopbackSSE(n_events=6, drop_after=2)
    with caplog.at_level(logging.WARNING, logger="rc_scanner_spark.sources.sse"):
        feed = _LiveFeed(srv.url(), timeout=5.0)
        try:
            assert _wait_for(lambda: feed.size() == 6), feed.size()
            # connections ended after events 1 and 3 (then 5, ...)
            assert _wait_for(lambda: feed.reconnects >= 2)
        finally:
            feed.close()
            srv.close()
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == feed.reconnects
    assert all("server ended the stream (HTTP 200)" in r.getMessage() for r in warnings)
    assert "Last-Event-ID 1" in warnings[0].getMessage()
    # the server honours Last-Event-ID: nothing was replayed twice
    assert feed.replay_drops == 0


def test_sse_live_reader_stop_closes_feed():
    """The live reader's stop() (which Spark calls when the query
    stops) closes the feed's connection and ends its thread."""
    from rc_scanner_spark.sources.sse import LiveChangeReader

    srv = _LoopbackSSE(n_events=3)
    r = LiveChangeReader(srv.url())
    try:
        r.latestOffset()
        feed = r._feed
        assert feed is not None and feed._thread.is_alive()
        r.stop()
        assert feed._closed.is_set()
        assert not feed._thread.is_alive()
    finally:
        r.stop()
        srv.close()


def test_sse_double_replay_is_deduped(tmp_path):
    """Deterministic double-replay (r14 verdict item 1): a server that
    replays an overlap window on every reconnect (it rewinds 2 events
    behind the presented Last-Event-ID) must not cause duplicate
    delivery.  Without id-dedup in _LiveFeed the overlap is appended
    again, shifting every later global offset so the duplicates land
    PAST the Structured Streaming checkpoint — the VERIFY_r14
    test_sse_loopback_live_structured_streaming failure (seen=['3','3'],
    Live4/Live5 emitted twice)."""
    import http.server
    import threading

    from rc_scanner_spark.sources.sse import _LiveFeed

    n_events, overlap, drop_after = 8, 2, 4
    seen_last_ids: list[str | None] = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            last = self.headers.get("Last-Event-ID")
            seen_last_ids.append(last)
            # rewind `overlap` events behind the acknowledged id: the
            # broker-side replay window every reconnect re-serves
            start = max(int(last) + 1 - overlap, 0) if last is not None else 0
            self.send_response(200)
            self.send_header("Content-Type", "text/event-stream")
            self.end_headers()
            for i in range(start, min(start + drop_after, n_events)):
                ev = make_change(i, f"Live{i}")
                try:
                    self.wfile.write(f"id: {i}\ndata: {json.dumps(ev)}\n\n".encode())
                    self.wfile.flush()
                except BrokenPipeError:
                    return
            # close: client must reconnect (and gets the overlap again)

        def log_message(self, *a):
            pass

    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    feed = _LiveFeed(f"http://127.0.0.1:{httpd.server_address[1]}/sse", timeout=5.0)
    try:
        assert _wait_for(lambda: feed.size() >= n_events), (
            f"size={feed.size()}, seen={seen_last_ids}"
        )
        # exactly once, in order, despite every reconnect replaying an
        # overlap (connection 2 presents id 2 and is served 1..: events
        # 1-2 arrive again and must be dropped before the buffer)
        titles = [r["title"] for r in feed.slice(0, feed.size())]
        assert titles == [f"Live{i}" for i in range(n_events)], (
            f"{titles}, seen={seen_last_ids}"
        )
        # the server really did replay an overlap (test is armed), and
        # the feed counted the ids it dropped
        assert any(last is not None for last in seen_last_ids)
        assert feed.replay_drops >= overlap
    finally:
        feed.close()
        httpd.shutdown()


def test_sse_loopback_commit_trims_and_persists_id(tmp_path):
    """commit() bounds the driver buffer to the uncommitted window and
    persists the resumption id; a NEW feed (driver restart) presents
    the persisted id on its first request."""
    from rc_scanner_spark.sources.sse import LiveChangeReader

    idfile = str(tmp_path / "last_id")
    srv = _LoopbackSSE(n_events=6)
    r = LiveChangeReader(srv.url(), idfile)
    try:
        feed = r._live_feed()
        assert _wait_for(lambda: feed.size() == 6)
        assert r.latestOffset() == {"line": 6}
        rows = list(r.getCache({"line": 0}, {"line": 6}))
        assert len(rows) == 6
        r.commit({"line": 4})
        # committed prefix trimmed, uncommitted window intact
        assert feed.slice(0, 6) == feed.slice(4, 6)
        assert len(feed.slice(4, 6)) == 2
        assert feed.size() == 6  # global offset unchanged by trim
        with open(idfile) as f:
            # id of the last COMMITTED event (offset 3) — NOT the last
            # received one (5): resuming from the received id would
            # skip the uncommitted events 4-5 forever on restart —
            # plus the committed global offset (4) for restart
            # alignment.
            assert f.read() == "3\n4"
    finally:
        r.stop()
        srv.close()

    # restart: fresh server, fresh reader -> resumes from the last
    # COMMITTED id, so the server replays the uncommitted tail (4, 5)
    srv2 = _LoopbackSSE(n_events=6)
    r2 = LiveChangeReader(srv2.url(), idfile)
    try:
        r2._live_feed()
        assert _wait_for(lambda: len(srv2.seen_last_ids) > 0)
        assert srv2.seen_last_ids[0] == "3"
        # replayed events must ALIGN to the checkpoint offset, not be
        # cleared: the idfile's persisted offset restores _base=4
        # directly, so the buffered replay maps to global offsets 4..
        # before any getCache() call (latestOffset never regresses).
        assert r2._feed._base == 4 and r2._feed._aligned
        list(r2.getCache({"line": 4}, {"line": 4}))
        assert _wait_for(lambda: r2._feed.size() >= 5)
        replay = r2._feed.slice(4, 6)
        assert len(replay) >= 1  # the recovered uncommitted events
    finally:
        r2.stop()
        srv2.close()


def test_sse_restart_waits_for_replay_before_aligning(tmp_path):
    """After a restart Spark's first call re-plans the checkpointed
    batch, right after the feed connects.  Offsets 4-5 were planned
    but not yet committed to the source (the idfile says 4): the
    Last-Event-ID replay must land at 4.. before the feed aligns to
    the checkpoint (6), or it is cleared and 4-5 come back as 6-7."""
    from rc_scanner_spark.schemas import CHANGE_SCHEMA as SCHEMA
    from rc_scanner_spark.sources.sse import LiveChangeReader

    idfile = str(tmp_path / "last_id")
    with open(idfile, "w", encoding="utf-8") as f:
        f.write("3\n4")
    srv = _LoopbackSSE(n_events=8, delay=0.5)  # replay arrives late
    r = LiveChangeReader(srv.url(), idfile)
    try:
        assert list(r.getCache({"line": 6}, {"line": 6})) == []
        assert _wait_for(lambda: r.latestOffset() == {"line": 8}), r.latestOffset()
        assert srv.seen_last_ids == ["3"]
        title = SCHEMA.fieldNames().index("title")
        titles = [row[title] for row in r.getCache({"line": 6}, {"line": 8})]
        assert titles == ["Live6", "Live7"]
    finally:
        r.stop()
        srv.close()


def test_sse_idless_stream_persists_offset(tmp_path):
    """On a stream whose events carry NO ids, trim() must still
    persist the committed global offset (empty id line + base) so a
    restart restores _base instead of falling back to the
    clear-and-skip alignment path (ADVICE r11: the idfile went
    permanently stale while _base advanced in memory)."""
    from rc_scanner_spark.sources.sse import LiveChangeReader

    idfile = str(tmp_path / "last_id")
    srv = _LoopbackSSE(n_events=6, ids=False)
    r = LiveChangeReader(srv.url(), idfile)
    try:
        feed = r._live_feed()
        # >= not ==: with no Last-Event-ID to present, every ~1 s
        # reconnect replays all 6 events and the buffer keeps growing
        # — an exact-size assert is a <1 s race (review r12).  The
        # committed offset below is invariant to the growth.
        assert _wait_for(lambda: feed.size() >= 6)
        r.commit({"line": 4})
        assert feed.size() >= 6  # trim drops only the committed prefix
        with open(idfile) as f:
            # no event id to persist -> empty first line, but the
            # committed global offset is still written
            assert f.read() == "\n4"
    finally:
        r.stop()
        srv.close()

    # restart: _base restored from the offset line, no Last-Event-ID
    # presented (nothing to replay on an id-less stream), and
    # latestOffset never regresses below the checkpointed 4
    srv2 = _LoopbackSSE(n_events=6, ids=False)
    r2 = LiveChangeReader(srv2.url(), idfile)
    try:
        r2._live_feed()
        assert r2._feed._base == 4 and r2._feed._aligned
        assert not r2._feed._resumed
        assert _wait_for(lambda: len(srv2.seen_last_ids) > 0)
        assert srv2.seen_last_ids[0] is None
        assert r2.latestOffset()["line"] >= 4
    finally:
        r2.stop()
        srv2.close()


def test_sse_trim_keeps_last_known_id_for_idless_tail(tmp_path):
    """Mixed-stream guard (ADVICE r12): when the last COMMITTED event
    carries no SSE id, trim() must persist the newest KNOWN committed
    id — here the one restored from the idfile — not overwrite it
    with an empty line, or a later restart loses the downtime-gap
    replay the persisted id enabled.  Exercised directly on the feed
    buffer (the background thread points at a dead port and just
    retries)."""
    from rc_scanner_spark.sources.sse import _LiveFeed

    idfile = str(tmp_path / "last_id")
    with open(idfile, "w", encoding="utf-8") as f:
        f.write("ev-41\n4")  # prior run: committed id ev-41 at offset 4

    feed = _LiveFeed("http://127.0.0.1:9/dead", timeout=0.2, idfile=idfile)
    try:
        assert feed._base == 4 and feed._last_committed_id == "ev-41"
        with feed._lock:
            # two id-less events arriving before any id-carrying one on
            # this connection; _last_recv_id was restored, but simulate a
            # buffer whose stored per-event ids are None (id-less head)
            feed._events.append(({"title": "A"}, None))
            feed._events.append(({"title": "B"}, None))
        feed.trim(6)  # commit both id-less events
        with open(idfile, encoding="utf-8") as f:
            # offset advances, the good id survives
            assert f.read() == "ev-41\n6"

        with feed._lock:
            feed._events.append(({"title": "C"}, "ev-77"))
        feed.trim(7)  # an id-carrying commit updates the persisted id
        with open(idfile, encoding="utf-8") as f:
            assert f.read() == "ev-77\n7"
    finally:
        feed.close()


def test_sse_loopback_live_structured_streaming(spark, tmp_path):
    """The FULL live path under Structured Streaming: readStream
    format("rcstream") with a url option against a loopback SSE server
    that drops the connection every 2 events, JSON file sink (the only
    built-in sink with checkpoint recovery), checkpoint.  Phase 1
    collects all 6 events exactly once (reconnect + Last-Event-ID
    resume inside a running query); phase 2 restarts the query from
    the checkpoint against a FRESH server holding 8 events and must
    append exactly the 2 new ones (idfile id+offset resumption
    end-to-end)."""
    spark.dataSource.register(RcChangeDataSource)
    idfile = str(tmp_path / "last_id")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def out_titles():
        try:
            return sorted(
                r.title
                for r in spark.read.schema(CHANGE_SCHEMA).json(out).collect()
            )
        except Exception:
            return []

    srv = _LoopbackSSE(n_events=6, drop_after=2)
    try:
        df = (
            spark.readStream.format("rcstream")
            .option("url", srv.url())
            .option("idfile", idfile)
            .load()
        )
        q = (
            df.writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        # generous bound: only the FAILURE path pays it; a loaded host
        # starves microbatch scheduling well past a minute.  >= not ==
        # so an overshoot (duplicates) fails FAST at the equality
        # assert below with the actual titles, instead of spinning the
        # full timeout (intermittent full-suite flake, round 12 — the
        # messages exist to identify the failing condition next time).
        assert _wait_for(
            lambda: len(out_titles()) >= 6, timeout=180.0
        ), f"phase1 timeout: titles={out_titles()}"
        q.processAllAvailable()
        q.stop()
    finally:
        srv.close()
    got1 = out_titles()
    assert got1 == [f"Live{i}" for i in range(6)], f"phase1: {got1}"

    # phase 2: driver restart -- fresh server with 2 extra events; the
    # restarted query resumes from the checkpointed offset and the
    # idfile Last-Event-ID, so only Live6 and Live7 are appended.
    srv2 = _LoopbackSSE(n_events=8)
    try:
        df2 = (
            spark.readStream.format("rcstream")
            .option("url", srv2.url())
            .option("idfile", idfile)
            .load()
        )
        q2 = (
            df2.writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        assert _wait_for(
            lambda: len(out_titles()) >= 8, timeout=180.0
        ), f"phase2 timeout: titles={out_titles()}, seen={srv2.seen_last_ids}"
        q2.processAllAvailable()
        q2.stop()
    finally:
        srv2.close()
    got2 = out_titles()
    # no dupes, no gaps
    assert got2 == [f"Live{i}" for i in range(8)], (
        f"phase2: {got2}, seen={srv2.seen_last_ids}"
    )


def test_sse_live_restart_after_first_batch_loses_nothing(spark, tmp_path):
    """A live query stopped right after its first data batch records
    that batch in the idfile, though Spark never committed it to the
    source.  Its restart presents the Last-Event-ID to a server that,
    without one, would start at "now" (event 6): the events sent while
    the query was down (4, 5) are replayed, none is lost and none is
    delivered twice."""
    spark.dataSource.register(RcChangeDataSource)
    idfile = str(tmp_path / "last_id")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run(srv, n_titles):
        df = (
            spark.readStream.format("rcstream")
            .option("url", srv.url())
            .option("idfile", idfile)
            .load()
        )
        q = (
            df.writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            assert _wait_for(
                lambda: sum(p["numInputRows"] for p in q.recentProgress) >= n_titles,
                timeout=180.0,
            ), q.recentProgress
            q.processAllAvailable()
        finally:
            q.stop()
        return sorted(r.title for r in spark.read.schema(CHANGE_SCHEMA).json(out).collect())

    srv = _LoopbackSSE(n_events=4)
    try:
        assert run(srv, 4) == [f"Live{i}" for i in range(4)]
    finally:
        srv.close()
    with open(idfile, encoding="utf-8") as f:
        assert f.read() == "3\n4"

    srv2 = _LoopbackSSE(n_events=8, now=6)
    try:
        got = run(srv2, 4)
    finally:
        srv2.close()
    assert srv2.seen_last_ids[0] == "3"
    assert got == [f"Live{i}" for i in range(8)], got


def test_rcstream_live_query_opens_one_connection(spark, tmp_path):
    """A live rcstream query opens exactly one SSE connection (Spark
    also builds a reader in a planning worker, which must not connect)
    and drops it when the query stops."""
    import http.server
    import threading
    import time

    spark.dataSource.register(RcChangeDataSource)
    lock = threading.Lock()
    stats = {"opened": 0, "open": 0}
    done = threading.Event()

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            with lock:
                stats["opened"] += 1
                stats["open"] += 1
            try:
                self.send_response(200)
                self.send_header("Content-Type", "text/event-stream")
                self.end_headers()
                i = 0
                # stream until the client goes away: a write to a
                # closed connection raises
                while not done.is_set():
                    ev = json.dumps(make_change(i, f"Conn{i}"))
                    self.wfile.write(f"id: {i}\ndata: {ev}\n\n".encode())
                    self.wfile.flush()
                    i += 1
                    time.sleep(0.05)
            except OSError:
                pass
            finally:
                with lock:
                    stats["open"] -= 1

        def log_message(self, *a):
            pass

    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    try:
        df = (
            spark.readStream.format("rcstream")
            .option("url", f"http://127.0.0.1:{httpd.server_address[1]}/sse")
            .load()
        )
        q = df.writeStream.format("memory").queryName("conn_out").start()
        try:
            assert _wait_for(
                lambda: spark.sql("SELECT count(*) FROM conn_out").first()[0] > 0,
                timeout=120.0,
            )
            assert stats["opened"] == 1, stats
        finally:
            q.stop()
        assert _wait_for(lambda: stats["open"] == 0, timeout=10.0), stats
        assert stats["opened"] == 1, stats
    finally:
        done.set()
        httpd.shutdown()


@pytest.mark.parametrize("chunked", [False, True], ids=["http10", "chunked"])
def test_sse_frame_delivered_before_quiet_spell(chunked):
    """The last frame before a quiet spell is delivered as soon as its
    blank line arrives, on both a connection-delimited (HTTP/1.0) and a
    chunked response: the feed must not wait for later bytes."""
    import http.server
    import threading

    from rc_scanner_spark.sources.sse import _LiveFeed

    quiet = threading.Event()

    class Handler(http.server.BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1" if chunked else "HTTP/1.0"

        def do_GET(self):
            self.send_response(200)
            self.send_header("Content-Type", "text/event-stream")
            if chunked:
                self.send_header("Transfer-Encoding", "chunked")
            self.end_headers()
            frame = f"id: 0\ndata: {json.dumps(make_change(0, 'Quiet0'))}\n\n".encode()
            if chunked:
                frame = b"%x\r\n%s\r\n" % (len(frame), frame)
            self.wfile.write(frame)
            self.wfile.flush()
            quiet.wait(30.0)  # silent, connection held open

        def log_message(self, *a):
            pass

    httpd = http.server.ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    feed = _LiveFeed(f"http://127.0.0.1:{httpd.server_address[1]}/sse", timeout=30.0)
    try:
        assert _wait_for(lambda: feed.size() == 1, timeout=2.0), feed.size()
        assert feed.slice(0, 1)[0]["title"] == "Quiet0"
        # close() wakes the thread blocked on the quiet connection
        feed.close()
        assert not feed._thread.is_alive()
    finally:
        feed.close()
        quiet.set()
        httpd.shutdown()
