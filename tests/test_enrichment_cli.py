"""CLI entry point (C3), flaglog array export (K3 compat), CSV/JSON
source round-trips."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from rc_scanner_spark.sinks.flaglog import export_array

from tests.conftest import make_change, write_changes_jsonl


def test_cli_batch_mode(spark, tmp_path, capsys):
    from rc_scanner_spark.cli import main

    indir = tmp_path / "changes"
    indir.mkdir()
    write_changes_jsonl(
        str(indir / "a.json"),
        [make_change(i, f"Page{i}") for i in range(4)],
    )
    users = tmp_path / "users.parquet"
    spark.createDataFrame([("Alice", 5)], "user string, editcount long").write.parquet(
        str(users)
    )
    revs = tmp_path / "revs.parquet"
    spark.createDataFrame(
        [(1000 + i, "an edit about userboxes") for i in range(4)],
        "revid long, text string",
    ).write.parquet(str(revs))

    rc = main(
        [
            "userboxes",
            "--input", str(indir),
            "--users", str(users),
            "--revisions", str(revs),
            "--out", str(tmp_path / "logs"),
            "--log-level", "2",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "***MATCH***" in out and "`(?iU)userbox`" in out
    logged = spark.read.json(str(tmp_path / "logs/flagged_changes"))
    assert logged.count() == 4


def test_cli_unknown_filter():
    from rc_scanner_spark.cli import main

    assert main(["nope", "--input", "/dev/null"]) == 2


def test_flaglog_array_export(spark, tmp_path):
    path = tmp_path / "jl"
    spark.createDataFrame(
        [("f1", "T1"), ("f1", "T2")], "filter string, title string"
    ).write.json(str(path))
    out_file = tmp_path / "flagged_changes.json"
    export_array(str(path), str(out_file), spark)
    data = json.loads(out_file.read_text())
    # the reference's format: one pretty-printed JSON array document
    # (flaglog.py:48)
    assert isinstance(data, list) and len(data) == 2
    assert {d["filter"] for d in data} == {"f1"}


def test_flaglog_level3_without_date_column(spark, tmp_path):
    """Level-3 gating: a frame carrying ``filename`` but not the
    ``date`` projection must degrade (folder derived from meta.dt, or
    NULL), not raise AnalysisException."""
    from rc_scanner_spark.sinks.flaglog import write_flaglog
    from rc_scanner_spark.schemas import CHANGE_SCHEMA
    from tests.conftest import make_change

    changes = spark.createDataFrame(
        [make_change(1, "T1"), make_change(2, "T2")], CHANGE_SCHEMA
    )
    flagged = changes.withColumn("filter", F.lit("f1")).withColumn(
        "filename", F.concat_ws("_", "user", F.col("revision.new").cast("string"))
    )
    path = tmp_path / "fl3"
    write_flaglog(flagged, str(path), log_level=3)
    logged = spark.read.json(str(path))
    rows = logged.select("log.folder", "log.file").collect()
    assert len(rows) == 2
    # folder falls back to the meta.dt-derived partition
    assert {r["folder"] for r in rows} == {"changes/2026-08-13"}
    assert all(r["file"] for r in rows)


def test_csv_json_source_roundtrip(spark, tmp_path):
    from rc_scanner_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    ev.write.mode("overwrite").json(str(tmp_path / "ev_json"))
    ev.drop("props").write.mode("overwrite").option("header", True).csv(
        str(tmp_path / "ev_csv")
    )
    back_json = spark.read.schema(ev.schema).json(str(tmp_path / "ev_json"))
    assert back_json.count() == ev.count()
    back_csv = spark.read.schema(ev.drop("props").schema).option("header", True).csv(
        str(tmp_path / "ev_csv")
    )
    assert back_csv.count() == ev.count()
    # values survive the round trip
    a = back_json.agg(F.round(F.sum("value"), 2).alias("s")).first()["s"]
    b = ev.agg(F.round(F.sum("value"), 2).alias("s")).first()["s"]
    assert a == b


def test_xml_source_roundtrip(spark, tmp_path):
    """Spark 4 ships a native XML source: round-trip the events table
    through it (rowTag framing) and verify the aggregate survives, so
    a user feeding XML exports gets the same operator surface."""
    from rc_scanner_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").drop("props")
    path = str(tmp_path / "ev_xml")
    ev.write.mode("overwrite").option("rowTag", "event").xml(path)
    back = (
        spark.read.schema(ev.schema).option("rowTag", "event").xml(path)
    )
    assert back.count() == ev.count()
    a = back.agg(F.round(F.sum("value"), 2).alias("s")).first()["s"]
    b = ev.agg(F.round(F.sum("value"), 2).alias("s")).first()["s"]
    assert a == b


def test_cli_log_level_3_attaches_all_sinks(spark, tmp_path, capsys):
    import os

    from rc_scanner_spark.cli import main

    indir = tmp_path / "changes3"
    indir.mkdir()
    write_changes_jsonl(
        str(indir / "a.json"),
        [make_change(i, f"Only{i}") for i in range(3)],
    )
    users = tmp_path / "users3.parquet"
    spark.createDataFrame([("Alice", 5)], "user string, editcount long").write.parquet(
        str(users)
    )
    revs = tmp_path / "revs3.parquet"
    spark.createDataFrame(
        [(1000 + i, "a userbox sighting") for i in range(3)],
        "revid long, text string",
    ).write.parquet(str(revs))

    out = tmp_path / "logs3"
    rc = main(
        [
            "userboxes",
            "--input", str(indir),
            "--users", str(users),
            "--revisions", str(revs),
            "--out", str(out),
            "--log-level", "3",
        ]
    )
    assert rc == 0
    # K2: one revid per line
    revids = {
        r["value"] for r in spark.read.text(str(out / "revids")).collect()
    }
    assert revids == {"1000", "1001", "1002"}
    # K3: flag log rows
    assert spark.read.json(str(out / "flagged_changes")).count() == 3
    # K4: date-partitioned content files (meta.dt -> date=2026-08-13)
    parts = os.listdir(str(out / "changes"))
    assert any(p.startswith("date=2026-08-13") for p in parts), parts
    content = spark.read.parquet(str(out / "changes"))
    assert content.count() == 3
    assert {f for f in content.columns} >= {"filename", "filter", "content", "date"}
    # filenames sanitized user_revid
    assert {r["filename"] for r in content.collect()} == {
        "Alice_1000", "Alice_1001", "Alice_1002"
    }


def test_cli_verbose_console_only(spark, tmp_path, capsys):
    """-v keeps non-matching rows on the CONSOLE only: sinks receive
    matches, and no ***MATCH*** line prints for an empty hits array
    (reference scanner.py:132-139 vs 147-175)."""
    from rc_scanner_spark.cli import main

    indir = tmp_path / "changes_v"
    indir.mkdir()
    write_changes_jsonl(
        str(indir / "a.json"),
        [make_change(i, f"VPage{i}") for i in range(4)],
    )
    users = tmp_path / "users_v.parquet"
    spark.createDataFrame([("Alice", 5)], "user string, editcount long").write.parquet(
        str(users)
    )
    # only revids 1000 and 1002 match the userboxes regex
    revs = tmp_path / "revs_v.parquet"
    spark.createDataFrame(
        [(1000, "a userbox"), (1001, "plain"), (1002, "userboxes!"),
         (1003, "nothing")],
        "revid long, text string",
    ).write.parquet(str(revs))

    out = tmp_path / "logs_v"
    rc = main(
        [
            "userboxes",
            "--input", str(indir),
            "--users", str(users),
            "--revisions", str(revs),
            "--out", str(out),
            "--log-level", "2",
            "--verbose",
        ]
    )
    assert rc == 0
    console = capsys.readouterr().out
    # all 4 message lines print, but only 2 MATCH lines
    assert console.count('Alice edited "VPage') == 4
    assert console.count("***MATCH***") == 2
    # sinks receive the 2 matches only
    logged = spark.read.json(str(out / "flagged_changes"))
    assert logged.count() == 2
    assert {r["change"]["title"] for r in logged.collect()} == {"VPage0", "VPage2"}


def test_orc_source_roundtrip(spark, tmp_path):
    """ORC is the other columnar lake format Spark speaks natively;
    values and schema survive a write/read cycle and predicates push
    down to the ORC reader."""
    from rc_scanner_spark.tables import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    li.write.mode("overwrite").orc(str(tmp_path / "li_orc"))
    back = spark.read.orc(str(tmp_path / "li_orc"))
    assert back.count() == li.count()
    assert back.schema == li.schema
    a = back.agg(F.round(F.sum("l_extendedprice"), 2).alias("s")).first()["s"]
    b = li.agg(F.round(F.sum("l_extendedprice"), 2).alias("s")).first()["s"]
    assert a == b
    plan = (
        back.filter(F.col("l_quantity") > 40)
        .select("l_orderkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [" in plan and "l_quantity" in plan


def test_text_and_binaryfile_sources(spark, tmp_path):
    """Unstructured ingestion paths: line-oriented text and whole-file
    binary (the multimodal on-ramp: binaryFile yields (path, bytes)
    rows ready for the mapInPandas codec stage)."""
    p = tmp_path / "docs"
    p.mkdir()
    (p / "a.txt").write_text("alpha\nbeta\n")
    (p / "b.txt").write_text("gamma\n")
    lines = spark.read.text(str(p))
    assert sorted(r["value"] for r in lines.collect()) == ["alpha", "beta", "gamma"]

    bf = spark.read.format("binaryFile").load(str(p))
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in bf.collect()}
    assert set(rows) == {"a.txt", "b.txt"}
    assert bytes(rows["a.txt"]["content"]) == b"alpha\nbeta\n"
    assert rows["b.txt"]["length"] == 6


def test_cli_batch_refuses_stream_flag_log(spark, tmp_path):
    """A flag-log directory written by the stream's file sink holds a
    ``_spark_metadata`` log, and Spark's readers list only the files it
    names: batch part files appended there would be on disk but never
    read back.  Batch mode refuses the directory, naming it, before it
    writes anything."""
    import pytest

    from rc_scanner_spark.cli import main

    indir = tmp_path / "changes"
    indir.mkdir()
    write_changes_jsonl(
        str(indir / "a.json"), [make_change(i, f"Page{i}") for i in range(2)]
    )
    users = tmp_path / "users.parquet"
    spark.createDataFrame([("Alice", 5)], "user string, editcount long").write.parquet(
        str(users)
    )
    revs = tmp_path / "revs.parquet"
    spark.createDataFrame(
        [(1000 + i, "an edit about userboxes") for i in range(2)],
        "revid long, text string",
    ).write.parquet(str(revs))
    flaglog = tmp_path / "logs" / "flagged_changes"
    (flaglog / "_spark_metadata").mkdir(parents=True)

    with pytest.raises(SystemExit) as exc:
        main(
            [
                "userboxes",
                "--input", str(indir),
                "--users", str(users),
                "--revisions", str(revs),
                "--out", str(tmp_path / "logs"),
                "--log-level", "2",
            ]
        )
    assert str(flaglog) in str(exc.value)
    assert sorted(p.name for p in flaglog.iterdir()) == ["_spark_metadata"]
