"""Streaming scanner pipeline.

The reference's pull loop (scanner.py:75-81) becomes a Structured
Streaming query: the custom SSE source (``rcstream``,
``sources/sse.py``) or Spark's JSON file source over recorded Change
lines (``read_change_stream``, offline) feeds ``CHANGE_SCHEMA`` rows;
the same ``FilterSpec`` compiles the predicates; dedup is
``dropDuplicates`` backed by the state store (unbounded, matching the
reference's never-expiring flag-log dedup, filter_.py:90-102 — add a
watermark to bound state when the product semantics allow); the flag
log is Spark's built-in JSON file sink.

Delivery: the reference is at-most-once with no offset tracking
(SSE offsets present but unused, utils.py:10).  Checkpointing upgrades
this to exactly-once-per-sink with restart recovery — the C2 restart
prompt (scanner.py:82-88) disappears.  The file sink records each
micro-batch's files in its ``_spark_metadata`` log when the batch
commits, and Spark reads of the output directory list only the files
in that log, so a batch retried after its files landed is not seen
twice.

Checkpoint writes: every micro-batch commits its offset log, its
commit log, the sink's ``_spark_metadata`` log and one state-store
delta per state partition, each by a rename.  On local paths
``start_flaglog_sink`` commits them through Spark's
``FileSystem``-based checkpoint manager, not the default
``FileContext`` one, whose renames fork ``readlink`` on a Hadoop
without its native library; other file systems keep the default.
"""

from __future__ import annotations

from contextlib import contextmanager
from urllib.parse import urlparse

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


FLAGLOG_COLUMNS = ("filter", "title", "user", "date", "filename", "match_message")

CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def is_local_path(path: str, default_fs: str) -> bool:
    """True when ``path`` names the local file system: its scheme is
    ``file``, or it has none and ``default_fs`` (Hadoop's
    ``fs.defaultFS``) is ``file:``.  Parses the strings only."""
    return (urlparse(path).scheme or urlparse(default_fs).scheme) == "file"


@contextmanager
def _session_conf(spark: SparkSession, settings: dict[str, str]):
    """Sets ``settings`` on the session for the ``with`` block, then
    restores each key's previous value, or unsets a key that had none,
    also when the block raises."""
    old = {k: spark.conf.get(k, None) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


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
    tasks in four waves, each paying its own state-store commit.
    Spark records the count in the checkpoint's offset log and reads
    it back on restart: the state partition count is fixed once per
    checkpoint, from the cores available when that checkpoint was
    first started (a checkpoint written at 16 keeps 16).  To change
    it, start from a new checkpoint.

    When ``checkpoint_dir`` and ``out_dir`` are both local (see
    ``is_local_path``), the query also starts with Spark's
    ``FileSystemBasedCheckpointFileManager``: it commits every log and
    state-store file with one local ``rename(2)``, which is atomic and
    overwrites, where the default ``FileContext`` manager forks
    ``readlink`` four times per rename on a Hadoop without its native
    library.  Checksum files stay on.  Remote paths (HDFS, object
    stores) keep Spark's default, which Spark prefers there for
    ``FileContext``'s atomic rename-with-overwrite, and a manager the
    session already names is kept.  Both managers write
    the same files, so a checkpoint first written under the default
    restarts under this one.

    The query clones the session inside ``start()``, so both values
    are scoped to it; the session's own values are restored on
    return, also when ``start()`` raises."""
    spark = flagged.sparkSession
    settings = {"spark.sql.shuffle.partitions": str(spark.sparkContext.defaultParallelism)}
    if spark.conf.get(CHECKPOINT_MANAGER_KEY, None) is None:
        default_fs = spark._jsparkSession.sessionState().newHadoopConf().get(
            "fs.defaultFS", "file:///"
        )
        if is_local_path(checkpoint_dir, default_fs) and is_local_path(out_dir, default_fs):
            settings[CHECKPOINT_MANAGER_KEY] = LOCAL_CHECKPOINT_MANAGER
    with _session_conf(spark, settings):
        return (
            flagged.select(*FLAGLOG_COLUMNS)
            .writeStream.format("json")
            .outputMode("append")
            .queryName(query_name)
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )
