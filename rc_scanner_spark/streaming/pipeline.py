"""Streaming scanner pipeline.

The reference's pull loop (scanner.py:75-81) becomes a Structured
Streaming query: file-replay (CI-safe) or the custom SSE source feeds
``CHANGE_SCHEMA`` rows; the same ``FilterSpec`` compiles the
predicates; dedup is ``dropDuplicates`` backed by the state store
(unbounded, matching the reference's never-expiring flag-log dedup,
filter_.py:90-102 — add a watermark to bound state when the product
semantics allow); the flag log is Spark's built-in JSON file sink.

Delivery: the reference is at-most-once with no offset tracking
(SSE offsets present but unused, utils.py:10).  Checkpointing upgrades
this to exactly-once-per-sink with restart recovery — the C2 restart
prompt (scanner.py:82-88) disappears.  The file sink records each
micro-batch's files in its ``_spark_metadata`` log when the batch
commits, and Spark reads of the output directory list only the files
in that log, so a batch retried after its files landed is not seen
twice.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..filters import FilterSpec
from ..scanner import (
    date_partition,
    event_message,
    match_message,
    sanitize_filename,
    verb_column,
)
from ..schemas import CHANGE_SCHEMA


def read_change_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 10
) -> DataFrame:
    """File-replay source of Change JSON-lines (CI-safe stand-in for
    the SSE stream; same schema, same downstream plan)."""
    return (
        spark.readStream.schema(CHANGE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(path)
    )


def build_pipeline(
    changes: DataFrame,
    spec: FilterSpec,
    users: DataFrame | None = None,
    revisions: DataFrame | None = None,
) -> DataFrame:
    """The streaming plan: F1 -> (S3+F2 stream-static join) -> (S2
    stream-static join) -> F4 -> F3 stateful dedup over MATCHED rows
    -> P1-P5.  (Dedup intentionally runs AFTER the match filter: the
    reference's flag log records matches only, so a non-matching event
    of a title must not suppress later genuine matches.)

    ``users``/``revisions`` are static dimension frames -> these joins
    are stream-static (no state, re-planned per micro-batch; broadcast
    when small).

    The dedup's state partition count is fixed once per checkpoint,
    from the shuffle-partition count its query first started with
    (``start_flaglog_sink`` starts it at the cores available then); a
    restart reads it back from the checkpoint.  To change it, start
    from a new checkpoint.
    """
    if spec.max_edits is not None and users is None:
        # Same contract as the batch twin (scanner.scan): a threshold
        # without its dimension must error, not silently pass everyone.
        raise ValueError(
            f"filter {spec.name!r} sets max_edits={spec.max_edits} "
            "but no users dimension was provided"
        )
    df = changes.filter(spec.attribute_predicate())
    if users is not None:
        df = df.join(F.broadcast(users), on="user", how="left")
        if spec.max_edits is not None:
            df = df.filter(
                F.col("editcount").isNotNull()
                & spec.editcount_predicate(F.col("editcount"))
            )
    if revisions is not None:
        df = df.join(
            revisions.withColumnRenamed("revid", "__revid"),
            on=df["revision.new"] == F.col("__revid"),
            how="left",
        ).drop("__revid")
        df = df.filter(F.col("text").isNotNull())
    else:
        # No revisions dimension = every text fetch "fails" (C1 race
        # skip), same as the batch twin: attach NULL text so the plan
        # stays valid instead of crashing on an unresolved column.
        df = df.withColumn("text", F.lit(None).cast("string"))
        df = df.filter(F.col("text").isNotNull())
    df = df.withColumn("hits", spec.hits(F.col("text")))
    df = df.filter(F.size("hits") > 0)
    if spec.skip_repeats:
        # State-store-backed dedup over *flagged* rows only: the
        # reference's flag log records matches, and its dedup is a
        # membership scan of that log (filter_.py:90-102) — a title
        # whose event did NOT match must not suppress later matches.
        # Unbounded like the reference's never-expiring log, O(1)/row.
        df = df.dropDuplicates(["title"])
    verb = verb_column(F.col("type"))
    return (
        df.withColumn("verb", verb)
        .withColumn(
            "message",
            event_message(F.col("user"), verb, F.col("title"), F.col("meta.dt")),
        )
        .withColumn("match_message", match_message(F.col("hits"), F.col("meta.uri")))
        .withColumn("date", date_partition(F.col("meta.dt")))
        .withColumn("filename", sanitize_filename(F.col("user"), F.col("revision.new")))
        .withColumn("filter", F.lit(spec.name))
    )


def windowed_counts(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    window_len: str = "5 minutes",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked tumbling/sliding event-time aggregation — the
    late-data policy the reference lacks (events processed on arrival,
    SURVEY.md §2.B streaming row)."""
    win = (
        F.window(F.col(ts_col), window_len, slide)
        if slide
        else F.window(F.col(ts_col), window_len)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def session_counts(
    events: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    gap: str = "30 minutes",
) -> DataFrame:
    """Watermarked SESSION-window aggregation: per-user activity
    sessions closed by a ``gap`` of inactivity (F.session_window — the
    native streaming form whose batch twin is the gap-based
    sessionization in queries/relational.py session_windows).

    State per (user, open session) only; the watermark closes sessions
    whose gap has provably expired, so state is bounded by active
    users x watermark horizon — the scale contract a 100 TB stream
    needs (the batch twin's window scan has no such bound)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("sess"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def attribution_join(
    clicks: DataFrame,
    views: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "30 minutes",
    max_lag: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join (the ad-attribution shape): each
    click matches the same user's views in the preceding ``max_lag``.

    Both sides carry watermarks, so the join state store evicts rows
    older than watermark + lag — bounded state at any scale.  The join
    key + time-range condition shuffles both streams on ``key`` once.
    The event-time range condition is also what makes ``how='left
    outer'`` legal: it lets the engine declare a left row unmatched at
    watermark expiry instead of holding it forever.
    """
    c = clicks.select(
        F.col(key).alias("k"),
        F.col(ts_col).alias("click_ts"),
        F.col("event_id").alias("click_id"),
    ).withWatermark("click_ts", watermark)
    v = views.select(
        F.col(key).alias("vk"),
        F.col(ts_col).alias("view_ts"),
        F.col("event_id").alias("view_id"),
    ).withWatermark("view_ts", watermark)
    return c.join(
        v,
        F.expr(
            f"k = vk AND view_ts >= click_ts - INTERVAL {max_lag} AND view_ts < click_ts"
        ),
        how,
    ).select(F.col("k").alias(key), "click_id", "click_ts", "view_id", "view_ts")


def attribution_join_outer(
    clicks: DataFrame,
    views: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    watermark: str = "30 minutes",
    max_lag: str = "10 minutes",
) -> DataFrame:
    """LEFT OUTER attribution join: clicks with NO view in the
    preceding ``max_lag`` are still emitted (view columns NULL) once
    the watermark proves no match can arrive — the
    unattributed-traffic report.  Thin delegate so inner and outer
    semantics can never drift."""
    return attribution_join(
        clicks, views, key, ts_col, watermark, max_lag, how="leftOuter"
    )


def dedup_within_watermark(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Key dedup with *bounded* state: duplicates arriving within the
    watermark horizon are dropped, state older than the horizon is
    evicted.  The scale-safe alternative to the reference's unbounded
    flag-log dedup (filter_.py:90-102) when product semantics allow a
    horizon."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


FLAGLOG_COLUMNS = ("filter", "title", "user", "date", "filename", "match_message")


def start_flaglog_sink(
    flagged: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    query_name: str = "flaglog",
) -> StreamingQuery:
    """K3 streaming sink: the ``FLAGLOG_COLUMNS`` of each micro-batch,
    appended as JSON-lines part files under ``out_dir`` by Spark's
    built-in file sink.  Exactly-once: the sink lists each batch's
    files in ``out_dir/_spark_metadata`` when the batch commits, skips
    a retried batch that is already listed, and ``spark.read`` of
    ``out_dir`` sees only the files in that log (a part file left by a
    failed attempt is ignored).  Once the log exists, files written to
    ``out_dir`` by anything else are not seen either.

    The query starts with ``spark.sql.shuffle.partitions`` set to the
    session's ``defaultParallelism``, so the dedup state runs one wave
    of state tasks per micro-batch.  Streaming plans run without AQE,
    so nothing would coalesce the batch default (``max(16, cores)``):
    at 16 partitions on 4 cores every trigger ran 16 near-empty state
    tasks in four waves, each paying its own state-store commit.  The
    query clones the session inside ``start()``, so the value is
    scoped to it; the session's own value is restored on return, also
    when ``start()`` raises.  Spark records the count in the checkpoint's offset log
    and reads it back on restart: the state partition count is fixed
    once per checkpoint, from the cores available when that
    checkpoint was first started (a checkpoint written at 16 keeps
    16).  To change it, start from a new checkpoint."""
    spark = flagged.sparkSession
    old_parts = spark.conf.get("spark.sql.shuffle.partitions", "200")
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions",
            str(spark.sparkContext.defaultParallelism),
        )
        return (
            flagged.select(*FLAGLOG_COLUMNS)
            .writeStream.format("json")
            .outputMode("append")
            .queryName(query_name)
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
