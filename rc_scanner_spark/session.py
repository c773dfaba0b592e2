"""SparkSession factory and runtime tuning.

Local testing runs ``local[N]`` (one JVM); production target is a
multi-executor cluster reading ~100 TB, so every knob set here is the
cluster-sane default, not a local hack:

- AQE on (runtime coalesce / skew-join mitigation);
- shuffle partitions sized to the environment (``max(16, cores)``
  locally; on a real cluster you want 2-3x total cores — override via
  conf).  Batch plans rely on AQE to coalesce them; streaming plans run
  without AQE, so ``streaming.pipeline.start_flaglog_sink`` starts its
  query at the session's core count instead;
- UTC session timezone so timestamp semantics match the oracle and are
  stable across executor hosts;
- Arrow transfer on for the (rare) Pandas-UDF paths.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

# Runtime-settable confs applied even to externally provided sessions
# (the correctness driver passes us its own SparkSession).
RUNTIME_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Respect the advisory partition size when coalescing instead of
    # preserving default parallelism: small shuffles collapse to few
    # tasks (locally: the deep dedup/ANN stage DAGs stop paying 32
    # task launches per near-empty exchange), and at cluster scale
    # this is the setting Spark's own AQE docs recommend for
    # production ("parallelismFirst ... recommended to set false").
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Runtime bloom-filter pruning for shuffle joins: when one join
    # side is selectively filtered, Spark injects a bloom filter of its
    # join keys into the other side's scan, cutting the big side's
    # shuffle before it happens.  No-op on tiny local data (creation
    # threshold), decisive on fact-fact joins at 100 TB.
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # spark.sql.optimizer.canChangeCachedPlanOutputPartitioning stays
    # at the Spark DEFAULT (false).  r14 batch 1 set it true to stop
    # persisted Markov/Haar bounded frames from materializing 32
    # near-empty cache partitions — but batch 2 collapsed those DAGs
    # into single array folds, removing the benefit, while the cost
    # remained: with true, AQE coalesces the cached shingle/signature
    # frames to 1-few partitions and their CPU-dense consumers
    # (ngram's blocked join, ann_ivf's assignment re-read) run
    # serialized.  Matched in-process A/B on the closing tree:
    # dedup_ngram_jaccard 2.877 -> 2.302 s, ann_ivf_topk 2.618 ->
    # 2.444 s with the default; haar/markov/minhash/simhash neutral.
    # Several operators also pin a cached frame's partitioning to get
    # exchange-free self-joins (dedup_containment's postings,
    # dedup_pair_explain's kept frame) — the default guarantees the
    # pinned layout survives into every consumer's plan.
    # The events table stores TIMESTAMP(NANOS) which Spark cannot
    # represent natively; read as long and convert (tables.load_table)
    # with the same floor-to-microsecond truncation DuckDB applies.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # spark.sql.codegen.hugeMethodLimit stays at the Spark default
    # (65535).  r15 trialled 8000 (the HotSpot JIT ceiling the Spark
    # docs suggest) while rebuilding the flat-K kmeans scoring; the
    # flat-K rewrite itself measured slower under BOTH values (see
    # kmeans_assign's r15 note) and with the unrolled projections gone
    # nothing in this tree generates a >8000-bytecode method, so the
    # knob is left untouched rather than shipped as an unexercised
    # config twiddle.
    # ObjectHashAggregate (collect_list/collect_set) falls back to
    # sort-based aggregation after 128 distinct groups PER PARTITION —
    # an entry COUNT, not a byte budget, and absurdly conservative for
    # group-by-shingle workloads where every partition holds 10^5+
    # groups (the fallback sorts the whole stream; measured ~0.5 s/query
    # at sf0.1).  1M entries of (short key, small list buffer) is tens
    # of MB against multi-GB executors; genuinely oversized buckets are
    # capped upstream by the operators themselves (max_shingle_df).
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold": str(1 << 20),
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session.

    Safe to call on the driver-supplied session: every key in
    RUNTIME_CONF is a runtime conf, not a static one.  A key the
    session refuses keeps its value, with one warning naming it.
    """
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception as e:  # conf locked down: the session keeps its value
            warnings.warn(f"tune(): could not set {k}: {e}", stacklevel=2)
    # Shuffle partitions sized from the session's actual parallelism
    # (r8: a foreign/driver session otherwise runs every shuffle at
    # the 200 default — 6x task-launch overhead on local[32]).  This
    # is the AQE INITIAL number: coalescePartitions shrinks small
    # shuffles below it, so on a 1000-executor cluster the
    # cores-derived value stays right while local stays small.
    # Only the UNTOUCHED Spark default ("200") is replaced: a caller
    # that set its own value (get_spark's max(16, cores), or a
    # cluster driver's deliberate 2000) keeps it — "override via
    # conf" stays true.
    key = "spark.sql.shuffle.partitions"
    try:
        if spark.conf.get(key, "200") == "200":
            par = spark.sparkContext.defaultParallelism
            spark.conf.set(key, str(max(16, par)))
    except Exception as e:  # conf locked down: the session keeps its value
        warnings.warn(f"tune(): could not set {key}: {e}", stacklevel=2)
    return spark


def get_spark(app_name: str = "rc_scanner_spark") -> SparkSession:
    """Build (or fetch) a tuned local session.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default all cores).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    # Shuffle partitions follow the session's parallelism (r14 verdict
    # item "What's wrong" 3c: a pinned 32 made the 8-core bench shuffle
    # at 32 anyway).  Floor of 16 keeps AQE coalescing meaningful on
    # tiny local runs; a cluster driver that sets its own value via
    # conf still wins (tune() only rescues the 200 default).
    try:
        n_cores = int(cpus) if cpus != "*" else (os.cpu_count() or 8)
    except ValueError:
        n_cores = os.cpu_count() or 8
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(16, n_cores)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_WAREHOUSE_DIR", "/tmp/rc_scanner_warehouse"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # STATIC conf (cannot go in RUNTIME_CONF/tune): Spark 4's
        # DataFrame debugging wraps EVERY DataFrame/Column API call
        # with call-site capture for error context — getActiveSession
        # + conf.get + PySparkCurrentOrigin.set/clear is ~3 extra py4j
        # round-trips per call plus a Python stack walk.  Measured
        # (r15, matched sessions): ~40-55% of plan-construction time
        # across the registry; construction recurs on every bench
        # sample and is paid serially on the driver (guide §1.2's
        # per-task-work rule applied to the driver).  Error messages
        # lose only the "called from <file:line>" diagnostic; plans
        # are byte-identical.  A foreign session (the grading driver)
        # keeps its own setting — tune() cannot and does not touch it.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in RUNTIME_CONF.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
