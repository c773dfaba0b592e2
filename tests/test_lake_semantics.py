"""Data-lake write semantics the 100 TB pipeline depends on:

- dynamic partition overwrite: re-running one day's batch must replace
  ONLY that day's partition (the backfill contract for the K4-style
  date-partitioned sink);
- read-side schema evolution (mergeSchema): old files without a new
  column read as NULLs next to new files that have it.
"""

from __future__ import annotations

import pyspark.sql.functions as F


def test_dynamic_partition_overwrite_backfills_one_day(spark, tmp_path):
    out = str(tmp_path / "by_day")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        day1 = [(1, "2026-08-01", "a"), (2, "2026-08-01", "b")]
        day2 = [(3, "2026-08-02", "c")]
        df = spark.createDataFrame(day1 + day2, "id bigint, day string, v string")
        df.write.mode("overwrite").partitionBy("day").parquet(out)

        # backfill day2 only: corrected row, day1 must survive untouched
        fix = spark.createDataFrame(
            [(30, "2026-08-02", "C-fixed")], "id bigint, day string, v string"
        )
        fix.write.mode("overwrite").partitionBy("day").parquet(out)

        # partition-column type inference reads the day string back as
        # a DATE; normalize for the comparison
        got = {
            (r["id"], str(r["day"]), r["v"])
            for r in spark.read.parquet(out).collect()
        }
        assert got == {
            (1, "2026-08-01", "a"),
            (2, "2026-08-01", "b"),
            (30, "2026-08-02", "C-fixed"),
        }
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "static")


def test_merge_schema_reads_old_files_with_nulls(spark, tmp_path):
    out = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "x")], "id bigint, a string").write.mode(
        "append"
    ).parquet(out)
    spark.createDataFrame(
        [(2, "y", 9.5)], "id bigint, a string, score double"
    ).write.mode("append").parquet(out)

    df = spark.read.option("mergeSchema", "true").parquet(out)
    assert set(df.columns) == {"id", "a", "score"}
    got = {r["id"]: r["score"] for r in df.collect()}
    assert got == {1: None, 2: 9.5}
    # and the evolved column is still filterable/aggregatable
    assert df.agg(F.sum("score")).collect()[0][0] == 9.5


def test_corrupt_json_records_are_quarantined_not_fatal(spark, tmp_path):
    """PERMISSIVE JSON reads must land malformed lines in
    _corrupt_record (per-record error containment, the C1 semantic at
    the source layer) instead of failing the scan."""
    p = tmp_path / "mixed.jsonl"
    p.write_text(
        '{"id": 1, "title": "ok"}\n'
        "{this is not json}\n"
        '{"id": 2, "title": "also ok"}\n'
        '{"id": "not-a-number", "title": "type clash"}\n'
    )
    df = (
        spark.read.schema("id bigint, title string, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = df.collect()
    good = {r["id"] for r in rows if r["_corrupt_record"] is None}
    bad = [r for r in rows if r["_corrupt_record"] is not None]
    assert good == {1, 2}
    assert len(bad) == 2
    # and DROPMALFORMED keeps only the clean rows
    clean = (
        spark.read.schema("id bigint, title string")
        .option("mode", "DROPMALFORMED")
        .json(str(p))
    )
    assert {r["id"] for r in clean.collect()} == {1, 2}


def test_contract_validate_splits_clean_and_violations(spark):
    from rc_scanner_spark.operators.contracts import (
        in_range,
        in_set,
        matches,
        not_null,
        validate,
    )

    rows = [
        (1, "view", 10.0, "u1"),
        (None, "view", 10.0, "u2"),       # null id
        (3, "hover", 10.0, "u3"),         # bad enum
        (4, "click", -5.0, "u4"),         # out of range
        (5, "click", 9999.0, "bad user"), # out of range AND bad name
    ]
    df = spark.createDataFrame(rows, "id bigint, etype string, v double, name string")
    rules = [
        not_null("id"),
        in_set("etype", ["view", "click"]),
        in_range("v", 0.0, 100.0),
        matches("name", r"^u\d+$"),
    ]
    clean, violations = validate(df, rules)
    assert {r["id"] for r in clean.collect()} == {1}
    viol = {(r["id"], r["violated_rule"]) for r in violations.collect()}
    assert viol == {
        (None, "id_not_null"),
        (3, "etype_in_set"),
        (4, "v_in_range"),
        (5, "v_in_range"),
        (5, "name_matches"),
    }
