"""Parquet table loaders for the driver-generated test data.

Tables documented in FIXTURES.md §B (repo root).  Loading is a plain
``spark.read.parquet`` so Catalyst gets full predicate pushdown,
column pruning and (on a partitioned lake) partition pruning for free
— the reference's hand-rolled "source pruning" (filter_.py:104-108)
is subsumed by this.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from . import TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Files below this size stay un-spread: tiny dimensions (region,
# nation, ...) are broadcast anyway and an exchange would cost more
# than the single-task scan.
_SPREAD_MIN_BYTES = 256 << 10

# Only tables whose downstream operators are CPU-heavy per row
# (shingling, hashing, vector math, regex) repay the exchange.  For
# the relational tables the single-task scan + partial aggregate is
# already cheaper than shuffling full rows (measured at sf0.1:
# agg_tpch_q1 0.83 s unspread vs 1.37 s spread).
_SPREAD_TABLES = {"documents", "embeddings"}

#: Tables whose spread exchange gets the pushdown barrier below —
#: only where derived predicates are CPU-heavy (text regex).
_BARRIER_TABLES = {"documents"}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def _table_bytes(path: str) -> int:
    """Bytes of a table's data: the file itself, or the data files
    under a directory layout (names starting with ``_`` or ``.`` --
    ``_SUCCESS``, ``_temporary/``, ``.crc`` -- are not data, as in
    Spark's own listing).  Local filesystem only; raises OSError when
    ``path`` does not exist."""
    if not os.path.isdir(path):
        return os.path.getsize(path)
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def _spread(spark: SparkSession, df: DataFrame, path: str, name: str) -> DataFrame:
    """Fan a narrow scan of a CPU-heavy table out across cores.

    Parquet cannot be split below a row group, and the test fixtures
    are single-row-group files — so every scan plans as ONE partition
    and all scan-side compute (shingling, hashing, vector folds) runs
    on one core.  A round-robin repartition fixes that for the price
    of shuffling a small file once; only worth it for the tables in
    _SPREAD_TABLES, whose per-row operator cost dwarfs the exchange.

    At production scale this is a structural no-op: a 100 TB table
    scans as tens of thousands of splits and the size guard below
    abstains.
    """
    if name not in _SPREAD_TABLES:
        return df
    try:
        size = _table_bytes(path)
    except OSError:
        return df
    if size < _SPREAD_MIN_BYTES:
        return df
    # Planned scan partitions if Spark could split the table (it cannot
    # below a row group, so this over-estimates -> only abstain when
    # the table is large enough to split properly on its own).
    max_part = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    if size >= max_part:
        return df
    # Local task overhead (~20-50 ms/stage/task) swamps the gain past
    # ~8 tasks at these file sizes; scale with size, cap below cores.
    # (r14: a cap raise to the core count was tried and REVERTED — it
    # made the CPU-dense shingle operators faster but taxed every
    # cheap consumer of these tables with 4x the task launches per
    # stage; matched bench showed dedup_exact 2x worse and the whole
    # near-dup family +20-30%.  The CPU-dense operators now widen
    # themselves with an explicit repartition at their own entrance
    # instead — see prefix_jaccard_pairs / dedup_containment.)
    target = min(
        spark.sparkContext.defaultParallelism,
        max(2, size // (96 << 10)),
        8,
    )
    out = df.repartition(target)
    # Pushdown barrier (r14): Catalyst pushes every deterministic
    # filter below a round-robin repartition, so a CPU-heavy derived
    # predicate (llm_prep_pipeline's quality-regex gate, the scanner's
    # rlike battery) lands back on the single-task scan this exchange
    # exists to escape — profiled at sf0.1 as a 1-task, ~0.5 s regex
    # stage ahead of a mostly idle 6-task stage, plus a second
    # evaluation of the same expressions in the projection above
    # (guide §4.4's duplication, for plain expressions).  A
    # nondeterministic column that a tautological filter references
    # pins everything above the exchange: PushPredicateThroughNonJoin
    # refuses to cross a projection with any nondeterministic member,
    # and column pruning cannot drop a column its filter uses.  The
    # predicate is always true (monotonically_increasing_id() >= 0 by
    # construction) and the column is dropped right after, so row sets
    # and values are untouched.  At production scale the size guard
    # above abstains before this point and scan-level pushdown is
    # fully preserved.
    #
    # The barrier applies to _BARRIER_TABLES only: the CPU-heavy
    # derived predicates all live on documents.text (regex batteries);
    # embeddings consumers carry CHEAP selective predicates (ann_ivf's
    # vec_id % 25 query-side gate) whose pushdown below the exchange
    # shrinks the shuffled frame — matched A/B showed the barrier on
    # embeddings cost ann_ivf_topk ~0.3-0.7 s while buying nothing.
    if name not in _BARRIER_TABLES:
        return out
    from pyspark.sql import functions as F

    return (
        out.withColumn("_spread_barrier", F.monotonically_increasing_id())
        .filter(F.col("_spread_barrier") >= 0)
        .drop("_spread_barrier")
    )


#: Columns that carry event/business time, per table.  Fixture
#: generators have shipped them in three encodings across rounds
#: (TIMESTAMP(NANOS) -> bigint via nanosAsLong, timestamp[us] without
#: UTC annotation -> TIMESTAMP_NTZ, and instant-annotated us -> UTC
#: TIMESTAMP); ``_normalize_timestamps`` folds all of them to
#: ``TimestampType`` so downstream operators see ONE type.
_TS_COLUMNS = {"events": ("ts",), "orders": ("o_orderdate",), "lineitem": ("l_shipdate",)}


def _normalize_timestamps(df: DataFrame, name: str) -> DataFrame:
    """Fold every known timestamp encoding to ``TimestampType``.

    The reference engine tolerates input-shape drift per event
    (scanner.py:75-81 catches and skips); a batch loader's equivalent
    is normalizing at the source boundary.  With the session timezone
    pinned to UTC (session.RUNTIME_CONF) the NTZ->TIMESTAMP cast is
    value-preserving, so DuckDB (which reads timestamp[us] as naive
    TIMESTAMP) and Spark agree on wall-clock values.
    """
    from pyspark.sql import functions as F

    dtypes = dict(df.dtypes)
    for col in _TS_COLUMNS.get(name, ()):
        enc = dtypes.get(col)
        if enc == "bigint":
            # TIMESTAMP(NANOS) read as long via nanosAsLong
            # (session.py); floor-divide to microseconds — the same
            # truncation DuckDB applies when it reads the ns column.
            df = df.withColumn(col, F.expr(f"timestamp_micros({col} div 1000)"))
        elif enc == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    # Catch-all: any other NTZ column (future fixture drift) gets the
    # same treatment so no unix_micros()/watermark call site can crash.
    for col, enc in dtypes.items():
        if enc == "timestamp_ntz" and col not in _TS_COLUMNS.get(name, ()):
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


_BYTE_UNITS = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10,
               "m": 1 << 20, "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30}


def _parse_bytes(v: str) -> int:
    """Parse Spark byte-size config values ('134217728b', '128m',
    '128MB', ...) — a bare int(rstrip('b')) crashes on unit suffixes."""
    v = v.strip().lower()
    i = len(v)
    while i > 0 and not v[i - 1].isdigit():
        i -= 1
    return int(v[:i]) * _BYTE_UNITS[v[i:]]


def _path_stamp(path: str) -> object:
    """Invalidation stamp for a parquet directory (``_DF_CACHE``): the
    dir mtime_ns plus each entry's (name, size, mtime_ns).  The dir
    mtime alone has 1-second granularity on some filesystems, so two
    overwrites inside the same second (back-to-back fixture writes)
    could collide; the per-file listing makes the stamp
    content-sensitive at the cost of one readdir+stat sweep per load
    (a parquet dir holds a handful of entries).  A rewrite that reproduces byte-identical sizes AND
    mtime_ns for every part file is indistinguishable — and also
    schema-identical in practice."""
    try:
        with os.scandir(path) as it:
            listing = tuple(
                sorted(
                    (e.name, e.stat().st_size, e.stat().st_mtime_ns)
                    for e in it
                )
            )
        return (os.stat(path).st_mtime_ns, listing)
    except NotADirectoryError:
        # A parquet table can be a single plain FILE (the committed
        # testdata tables are) — stat the file itself; falling through
        # to None would disable invalidation entirely (review r10).
        try:
            st = os.stat(path)
            return (st.st_mtime_ns, st.st_size)
        except OSError:
            return None
    except OSError:
        return None


def invalidate_schema_cache(path: str | None = None) -> None:
    """Drop loaded frames (for `path`, or all) so the next load
    re-infers the schema."""
    if path is None:
        _DF_CACHE.clear()
        return
    for key in [k for k in _DF_CACHE if k[1] == path]:
        del _DF_CACHE[key]


# Loaded-frame memo per (session JVM, path).  A fresh load infers the
# schema from the parquet footers (~75-100 ms/table) and pays
# DataSource resolution, file listing, the _spread size checks and
# _normalize_timestamps' dtypes-triggered analysis (12-28 ms/table
# even with the schema supplied, r15), recurring for every one of the
# several hundred table loads in a registry sweep and on every bench
# sample's plan rebuild.  A DataFrame is an immutable plan handle —
# reusing the object across queries holds NO data (execution still
# scans parquet; persisted frames live in Spark's CacheManager).
# Entries carry the directory stamp plus every session input the
# _spread decision reads (maxPartitionBytes, parallelism), so an
# overwrite (no writer has to remember invalidate_schema_cache) or a
# re-configured session re-loads instead of serving a stale plan.
# Paths where stat fails (non-local FS) stamp None: memo by path only.
_DF_CACHE: dict[tuple[int, str], tuple[object, object, DataFrame]] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    path = table_path(sf_dir, name)
    key = (id(spark.sparkContext), path)
    stamp = _path_stamp(path)
    spread_inputs = (
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728"),
        spark.sparkContext.defaultParallelism,
    )
    cached = _DF_CACHE.get(key)
    if cached is not None and cached[0] == stamp and cached[1] == spread_inputs:
        return cached[2]
    df = _spread(spark, spark.read.parquet(path), path, name)
    df = _normalize_timestamps(df, name)
    _DF_CACHE[key] = (stamp, spread_inputs, df)
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL entry points)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
