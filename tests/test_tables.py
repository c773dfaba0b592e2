"""Timestamp-encoding canary for the table loader.

The driver-generated fixtures have shipped event-time columns in three
different parquet encodings across rounds:

1. TIMESTAMP(NANOS)      -> Spark reads bigint (nanosAsLong conf)
2. timestamp[us] (naive)  -> Spark reads TIMESTAMP_NTZ
3. timestamp[us] UTC      -> Spark reads TIMESTAMP

Rounds 2-3 each lost a week of green to a silent re-encode (the loader
handled exactly one historical encoding).  This canary writes a tiny
``events`` fixture in every encoding and asserts ``load_table`` always
yields ``TimestampType`` with identical wall-clock values — so the next
fixture drift fails HERE with an obvious message, not in 4 operators
and the bench harness.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql.types import TimestampType

from rc_scanner_spark.tables import load_table

# One known instant, expressed per-encoding below.
_INSTANT = dt.datetime(2026, 8, 13, 12, 34, 56, 789000)
_MICROS = int(_INSTANT.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)


def _base_columns(n: int = 3):
    return {
        "id": pa.array(range(n), pa.int64()),
        "user": pa.array([f"u{i}" for i in range(n)], pa.string()),
    }


def _write_events(tmpdir, ts_array: pa.Array) -> str:
    cols = _base_columns(len(ts_array))
    cols["ts"] = ts_array
    table = pa.table(cols)
    path = str(tmpdir / "events.parquet")
    pq.write_table(table, path)
    return str(tmpdir)


def _ts_values(n: int = 3):
    return [_MICROS + i * 1_000_000 for i in range(n)]


@pytest.mark.parametrize(
    "encoding",
    ["ns_int64", "us_ntz", "us_utc", "ms_ntz"],
)
def test_load_table_normalizes_every_timestamp_encoding(spark, tmp_path, encoding):
    micros = _ts_values()
    if encoding == "ns_int64":
        arr = pa.array([m * 1000 for m in micros], pa.timestamp("ns"))
    elif encoding == "us_ntz":
        arr = pa.array(micros, pa.timestamp("us"))
    elif encoding == "us_utc":
        arr = pa.array(micros, pa.timestamp("us", tz="UTC"))
    else:  # ms_ntz: coarser unit, still NTZ on the Spark side
        arr = pa.array([m // 1000 for m in micros], pa.timestamp("ms"))
    sf_dir = _write_events(tmp_path, arr)

    df = load_table(spark, sf_dir, "events")
    ts_field = df.schema["ts"]
    assert isinstance(ts_field.dataType, TimestampType), (
        f"encoding {encoding}: loader must normalize to TimestampType, "
        f"got {ts_field.dataType}"
    )
    got = [r.ts for r in df.orderBy("id").collect()]
    want = [
        dt.datetime.fromtimestamp(m / 1_000_000, dt.timezone.utc).replace(tzinfo=None)
        for m in micros
    ]
    assert got == want, f"encoding {encoding}: wall-clock values drifted"


def test_load_table_normalizes_order_and_lineitem_dates(spark, tmp_path):
    """orders.o_orderdate / lineitem.l_shipdate get the same treatment."""
    micros = _ts_values()
    for tbl, col in (("orders", "o_orderdate"), ("lineitem", "l_shipdate")):
        cols = _base_columns(len(micros))
        cols[col] = pa.array(micros, pa.timestamp("us"))  # NTZ encoding
        pq.write_table(pa.table(cols), str(tmp_path / f"{tbl}.parquet"))
        df = load_table(spark, str(tmp_path), tbl)
        assert isinstance(df.schema[col].dataType, TimestampType)


def test_load_table_normalizes_unknown_ntz_columns(spark, tmp_path):
    """Future drift: an NTZ column NOT in _TS_COLUMNS is still folded."""
    cols = _base_columns(3)
    cols["ts"] = pa.array(_ts_values(), pa.timestamp("us"))
    cols["created_at"] = pa.array(_ts_values(), pa.timestamp("us"))
    pq.write_table(pa.table(cols), str(tmp_path / "events.parquet"))
    df = load_table(spark, str(tmp_path), "events")
    for col in ("ts", "created_at"):
        assert isinstance(df.schema[col].dataType, TimestampType), col


def test_schema_evolution_merge_read(spark, tmp_path):
    """Lake-style schema evolution: a corpus written in two epochs
    (the later one adds a quality column) reads back as one unified
    schema with NULLs for the pre-evolution rows under mergeSchema;
    filters on the new column still prune to the new files."""
    d = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(1, "old doc")], "doc_id long, text string"
    ).write.mode("overwrite").parquet(d + "/epoch=1")
    spark.createDataFrame(
        [(2, "new doc", 0.9)], "doc_id long, text string, quality double"
    ).write.mode("overwrite").parquet(d + "/epoch=2")
    df = spark.read.option("mergeSchema", "true").parquet(d)
    assert set(df.columns) == {"doc_id", "text", "quality", "epoch"}
    rows = {r.doc_id: r for r in df.collect()}
    assert rows[1].quality is None and rows[2].quality == 0.9
    assert df.filter("quality > 0.5").count() == 1


def test_schema_cache_self_invalidates_on_overwrite(spark, tmp_path):
    """Rewriting a table path with a CHANGED schema must be seen by
    the next load_table without an explicit invalidate call — the
    cache keys on the directory mtime (review r8: only
    conftest.write_fixture knew to call invalidate_schema_cache; any
    other writer was silently served the stale schema)."""
    path = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        [(1, "a")], "doc_id long, text string"
    ).write.mode("overwrite").parquet(path)
    assert set(load_table(spark, str(tmp_path), "documents").columns) == {
        "doc_id", "text",
    }
    spark.createDataFrame(
        [(1, "a", "en")], "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(path)
    df = load_table(spark, str(tmp_path), "documents")
    assert set(df.columns) == {"doc_id", "text", "lang"}
    assert df.collect()[0].lang == "en"


def test_schema_cache_stamp_is_listing_sensitive(tmp_path):
    """Two writes inside the same mtime second must yield different
    stamps (r9 ADVICE low: dir-mtime alone has 1s granularity on some
    filesystems) — the stamp folds in each entry's name/size/mtime_ns,
    so changing one part file changes the stamp even when the dir
    mtime doesn't move."""
    import os

    from rc_scanner_spark.tables import _path_stamp

    d = tmp_path / "t.parquet"
    d.mkdir()
    (d / "part-0").write_bytes(b"aa")
    s1 = _path_stamp(str(d))
    (d / "part-0").write_bytes(b"bbb")  # size change, dir mtime frozen
    os.utime(d, ns=(s1[0], s1[0]))  # pin dir mtime to the old stamp's
    s2 = _path_stamp(str(d))
    assert s1 != s2
    assert s1[0] == s2[0]  # ...even though the dir mtime is identical
    assert _path_stamp(str(tmp_path / "missing")) is None
    # Single plain-FILE parquet (the committed testdata layout): the
    # stamp must be non-None (review r10: a None stamp disables
    # invalidation — None == None is a permanent cache hit) and must
    # change when the file changes.
    f = tmp_path / "plain.parquet"
    f.write_bytes(b"aa")
    fs1 = _path_stamp(str(f))
    assert fs1 is not None
    f.write_bytes(b"bbb")
    assert _path_stamp(str(f)) != fs1


def test_df_memo_hits_and_invalidates(spark, tmp_path):
    """The loaded-frame memo (r15) returns the SAME plan handle for an
    unchanged path — the 12-28 ms DataSource-resolution +
    normalization cost is paid once per (session, path) — but a
    fixture rewrite (new stamp) must yield a fresh frame that reads
    the NEW data, not the memoized listing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from rc_scanner_spark.tables import load_table

    cols = _base_columns(3)
    cols["ts"] = pa.array(_ts_values(), pa.timestamp("us"))
    pq.write_table(pa.table(cols), str(tmp_path / "events.parquet"))

    df1 = load_table(spark, str(tmp_path), "events")
    df2 = load_table(spark, str(tmp_path), "events")
    assert df1 is df2, "unchanged path must hit the frame memo"
    assert df1.count() == 3

    # rewrite with different rows -> stamp changes -> fresh frame
    cols = _base_columns(5)
    cols["ts"] = pa.array(_ts_values(5), pa.timestamp("us"))
    pq.write_table(pa.table(cols), str(tmp_path / "events.parquet"))
    df3 = load_table(spark, str(tmp_path), "events")
    assert df3 is not df1, "rewritten fixture must invalidate the memo"
    assert df3.count() == 5
    # the memoized old handle must not have been poisoned in place
    # (it may legitimately now read the new listing on re-execution --
    # the guarantee under test is only that load_table callers get the
    # fresh plan after a rewrite)


def _write_documents(path, n: int, start: int = 0) -> None:
    """A ``documents`` file whose text does not compress (a distinct
    hex digest per row), so its size on disk grows with ``n``."""
    import hashlib

    ids = range(start, start + n)
    cols = {
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(
            [hashlib.sha512(str(i).encode()).hexdigest() for i in ids], pa.string()
        ),
        "source": pa.array(["s"] * n, pa.string()),
    }
    pq.write_table(pa.table(cols), str(path))


def _round_robin_spread(df) -> bool:
    return "RoundRobinPartitioning" in df._jdf.queryExecution().toString()


def test_df_memo_keys_on_spread_inputs(spark, tmp_path):
    """Changing spark.sql.files.maxPartitionBytes between loads must
    bypass the memo: the spread decision is part of the returned plan."""
    from rc_scanner_spark.tables import load_table

    path = tmp_path / "documents.parquet"
    _write_documents(path, 4000)
    size = path.stat().st_size
    assert size >= 256 << 10, "fixture must cross the spread threshold"

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        spread = load_table(spark, str(tmp_path), "documents")
        # a split size no larger than the file: the guard abstains and
        # the scan plans as one split
        spark.conf.set(key, str(size))
        unspread = load_table(spark, str(tmp_path), "documents")
    finally:
        spark.conf.set(key, old)
    assert spread is not unspread
    assert _round_robin_spread(spread)
    assert unspread.rdd.getNumPartitions() == 1


def test_load_table_spreads_multi_file_directory(spark, tmp_path):
    """The spread guard sizes a directory-layout table by its part
    files, not by the directory entry: two parts, each below the
    256 KiB threshold but above it together, spread like one file of
    the same size would."""
    from rc_scanner_spark.tables import _table_bytes, load_table

    table = tmp_path / "documents.parquet"
    table.mkdir()
    parts = [table / "part-00000.parquet", table / "part-00001.parquet"]
    _write_documents(parts[0], 1500)
    _write_documents(parts[1], 1500, start=1500)
    (table / "_SUCCESS").write_bytes(b"")
    (table / ".part-00000.parquet.crc").write_bytes(b"x" * 64)
    sizes = [p.stat().st_size for p in parts]
    assert all(s < 256 << 10 for s in sizes) and sum(sizes) >= 256 << 10

    assert _table_bytes(str(table)) == sum(sizes)
    assert _table_bytes(str(parts[0])) == sizes[0]
    with pytest.raises(OSError):
        _table_bytes(str(tmp_path / "missing.parquet"))

    df = load_table(spark, str(tmp_path), "documents")
    assert _round_robin_spread(df)
    assert df.count() == 3000


def test_df_memo_is_per_session(spark):
    """A second session on the same SparkContext gets frames bound to
    itself: a memo shared across the context handed it the first
    session's frames, so ``register_views`` put its views into the
    first session's catalog."""
    from rc_scanner_spark.tables import register_views

    from tests.conftest import SF_SMOKE

    s2 = spark.newSession()
    assert load_table(s2, SF_SMOKE, "region").sparkSession is s2
    assert load_table(spark, SF_SMOKE, "region").sparkSession is spark
    register_views(s2, SF_SMOKE)
    n = s2.sql("select count(*) from region").collect()[0][0]
    assert n == load_table(spark, SF_SMOKE, "region").count()
