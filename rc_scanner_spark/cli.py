"""CLI entry point — mirror of the reference's
``scanner.py <filtername> [-v|--verbose]`` (scanner.py:34-51, C3) with
the LOG_LEVEL-gated sink set (C4, examples/config.py:1-17).

Batch mode scans a directory of Change JSON-lines; stream mode tails
it via Structured Streaming (the offline twin of the live SSE source).

Usage:
    python -m rc_scanner_spark.cli userboxes --input /data/changes \
        --users users.parquet --revisions revs.parquet \
        [--stream] [--log-level 2] [--out ./logs] [-v]
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F

from .filterlist import filterlist
from .filters import FilterSpec
from .scanner import scan
from .schemas import CHANGE_SCHEMA
from .session import get_spark
from .sinks.flaglog import provision, write_content_files, write_flaglog, write_revid_log
from .streaming.pipeline import build_pipeline, start_flaglog_sink


def _get_args(argv: list[str]) -> argparse.Namespace:
    parser = argparse.ArgumentParser(
        prog="rc-scanner-spark",
        description="Scan a RecentChanges-style event feed with a named filter.",
    )
    parser.add_argument("filtername", help=f"one of: {', '.join(filterlist)}")
    parser.add_argument("--input", required=True, help="dir of Change JSON-lines")
    parser.add_argument("--users", help="users dimension parquet (user, editcount)")
    parser.add_argument("--revisions", help="revisions dimension parquet (revid, text)")
    parser.add_argument("--stream", action="store_true", help="run as a stream")
    parser.add_argument("--out", default="./logs", help="sink base directory")
    parser.add_argument("--checkpoint", default="./logs/_checkpoint")
    parser.add_argument("--log-level", type=int, default=None,
                        help="0..3, overrides the filter's level (config.py:4-9)")
    parser.add_argument("-v", "--verbose", action="store_true",
                        help="keep non-matching rows on the console (scanner.py:42)")
    return parser.parse_args(argv)


def _has_sink_log(spark, path: str) -> bool:
    """True when ``path`` holds a streaming file sink's metadata log."""
    log = spark._jvm.org.apache.hadoop.fs.Path(path, "_spark_metadata")
    return log.getFileSystem(spark._jsc.hadoopConfiguration()).exists(log)


def main(argv: list[str] | None = None) -> int:
    args = _get_args(argv if argv is not None else sys.argv[1:])
    try:
        spec = filterlist[args.filtername]
    except KeyError:
        # friendly unknown-name error (scanner.py:47-48)
        print(f"unknown filter {args.filtername!r}; known: {', '.join(filterlist)}",
              file=sys.stderr)
        return 2
    if args.log_level is not None:
        spec = FilterSpec(**{**spec.__dict__, "log_level": args.log_level,
                             "skip_repeats": None})

    spark = get_spark(f"rc-scanner-{spec.name}")
    # settings echo at startup (scanner.py:64-69)
    print(f"filter={spec.name} log_level={spec.log_level} "
          f"skip_repeats={spec.skip_repeats} out={args.out}")
    users = spark.read.parquet(args.users) if args.users else None
    revisions = spark.read.parquet(args.revisions) if args.revisions else None
    paths = provision(args.out, spec.log_level)

    if args.stream:
        changes = (
            spark.readStream.schema(CHANGE_SCHEMA).json(args.input)
        )
        flagged = build_pipeline(changes, spec, users=users, revisions=revisions)
        if "flaglog" not in paths:
            # LOG_LEVEL < 2: the flag log is not provisioned — match
            # the batch path's sink gating instead of inventing a
            # default output location.  (Console/revids/content sinks
            # are batch-only; stream mode is the flag-log pipeline.)
            raise SystemExit(
                f"--stream needs log level >= 2 (flag log); got {spec.log_level}"
            )
        q = start_flaglog_sink(flagged, paths["flaglog"], args.checkpoint)
        q.awaitTermination()
        return 0

    if "flaglog" in paths and _has_sink_log(spark, paths["flaglog"]):
        # A stream's file sink owns this directory: Spark's readers
        # list only the files its _spark_metadata log names, so batch
        # part files appended here would never be read back.
        raise SystemExit(
            f"{paths['flaglog']} is a stream flag log (it holds "
            "_spark_metadata); batch mode will not append to it — pick "
            "another --out"
        )
    changes = spark.read.schema(CHANGE_SCHEMA).json(args.input)
    flagged = scan(changes, spec, users=users, revisions=revisions,
                   verbose=args.verbose)
    # One execution feeds up to four sinks (console + revids + flaglog
    # + content files) — persist across them or the scan recomputes
    # per action.
    flagged = flagged.persist()
    # K1 console sink.  With -v the frame also carries non-matching
    # rows (hits empty) — those print their message line only, exactly
    # like the reference's verbose console (scanner.py:132-139); the
    # ***MATCH*** line is gated on a non-empty hits array.
    console = flagged.select(
        "message", "match_message", F.size("hits").alias("__n_hits")
    )
    for row in console.collect():
        print(row["message"])
        if row["__n_hits"] > 0:
            print(row["match_message"])
    # Sinks receive matches ONLY — verbose affects the console, never
    # the logs (reference scanner.py:147-175 writes inside the match
    # branch).
    matches = flagged.filter(F.size("hits") > 0) if args.verbose else flagged
    if "revids" in paths:
        write_revid_log(matches, paths["revids"])
    if "flaglog" in paths:
        write_flaglog(matches, paths["flaglog"], log_level=spec.log_level)
    if "changes" in paths and "text" in matches.columns:
        write_content_files(matches, paths["changes"])
    flagged.unpersist(blocking=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
