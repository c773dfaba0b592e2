"""Mergeable-sketch aggregations (Apache DataSketches HLL, built into
Spark 3.5+/4.x as ``hll_sketch_agg`` / ``hll_union_agg``).

Why these are first-class at 100 TB: an exact ``countDistinct`` over a
petabyte-scale key column shuffles every distinct key once per query.
A sketch aggregates each partition to a KB-sized binary, merges
sketches (commutative slot-max -> order/partitioning independent), and
- critically - the *stored* per-group sketches re-aggregate to any
coarser grouping without touching the raw data again: the pre-computed
cube pattern the reference's single-pass scanner could never express.

DuckDB's approx_count_distinct uses a different HLL implementation, so
raw estimates differ — the oracles here are therefore BOUNDED-ERROR
twins: each query outputs the EXACT value plus a within-tolerance
boolean derived from the sketch, and the SQL twin reproduces (exact,
TRUE) — a real hash-checked oracle, not a rows-only fallback.  Numeric
ground truth (relative error vs exact, partitioning invariance) lives
in tests/test_sketches.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from . import QuerySpec, load_tuned

# lgConfigK = 12 -> 4 KiB sketches, ~1.6% relative standard error:
# small enough to broadcast thousands of group sketches, tight enough
# to trust facet counts.
LG_K = 12


_t = load_tuned


def q_sketch_hll_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level distinct-user count from ONE pass over events: build a
    per-event_type HLL sketch of user_id, estimate each, then re-merge
    the (tiny) sketches into the global estimate - the second level
    reads KB of sketch bytes, not the events table.  At cluster scale
    the per-group sketches would persist as a summary table serving
    any rollup of the grouping columns.

    Bounded-error oracle: DataSketches estimates are deterministic but
    engine-specific, so the output is the EXACT distinct count plus a
    within-5%-of-exact boolean derived from the sketch estimate
    (lgK 12 -> ~1.6% rse; measured <=0.4% at every SF) — both columns
    hash-compare against the DuckDB twin (exact count, TRUE)."""
    e = _t(spark, sf_dir, "events")
    per_group = e.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(LG_K)).alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    leaves = per_group.select(
        "event_type", "exact_users", F.hll_sketch_estimate("sk").alias("a")
    )
    global_exact = e.agg(F.countDistinct("user_id").alias("exact_users"))
    merged = (
        per_group.agg(F.hll_union_agg("sk").alias("sk"))
        .crossJoin(F.broadcast(global_exact))
        .select(
            F.lit("ALL").alias("event_type"),
            "exact_users",
            F.hll_sketch_estimate("sk").alias("a"),
        )
    )
    # the empty-table 'ALL' row has exact_users = 0: the relative-
    # error division would yield NULL where the twin's literal is
    # TRUE — an empty sketch estimating an empty set IS within any
    # band, so mirror the twin (review r10)
    return leaves.unionByName(merged).select(
        "event_type",
        "exact_users",
        F.when(F.col("exact_users") == 0, F.lit(True))
        .otherwise(
            F.abs(F.col("a") - F.col("exact_users")) / F.col("exact_users") <= 0.05
        )
        .alias("approx_ok"),
    )


SQL_SKETCH_HLL_MERGEABLE = """
SELECT event_type, count(DISTINCT user_id) AS exact_users, TRUE AS approx_ok
FROM events GROUP BY event_type
UNION ALL
SELECT 'ALL' AS event_type, count(DISTINCT user_id) AS exact_users,
       TRUE AS approx_ok
FROM events
"""


def q_sketch_hll_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-summary-table pattern: persistable (day, event_type)
    sketches re-aggregated to per-day distinct users by merging
    sketches across event_type - exactly how a 100 TB events lake
    serves interactive distinct-count rollups (the raw scan happens
    once; every downstream rollup is a sketch merge)."""
    e = _t(spark, sf_dir, "events")
    summary = e.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.hll_sketch_agg("user_id", F.lit(LG_K)).alias("sk"))
    rolled = (
        summary.groupBy("day")
        .agg(F.hll_union_agg("sk").alias("sk"))
        .select("day", F.hll_sketch_estimate("sk").alias("a"))
    )
    exact = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return rolled.join(exact, "day").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "exact_users",
        # same zero-exact guard as the mergeable summary: a day whose
        # events all carry NULL user_id counts 0 distinct users, and
        # the division would NULL where the twin says TRUE
        F.when(F.col("exact_users") == 0, F.lit(True))
        .otherwise(
            F.abs(F.col("a") - F.col("exact_users")) / F.col("exact_users") <= 0.05
        )
        .alias("approx_ok"),
    )


SQL_SKETCH_HLL_DAILY_ROLLUP = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       count(DISTINCT user_id) AS exact_users,
       TRUE AS approx_ok
FROM events GROUP BY 1
"""




# --- Count-Min heavy hitters (portable md5 bucketing) ----------------

_CM_DEPTH = 4
_CM_WIDTH = 256
_CM_TOPK = 20


def _cm_bucket(depth: int, word):
    """Engine-portable Count-Min bucket: md5-derived 60-bit hash of
    'depth:word' mod width — the same trick as the portable LSH twins,
    so the DuckDB oracle replays the exact sketch."""
    return md5_long(F.concat_ws(":", F.lit(str(depth)), word)) % _CM_WIDTH


def q_sketch_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over document words, audited on the true
    heavy hitters: build the (depth, bucket) -> count table in one
    pass, then for the exact top-``_CM_TOPK`` words report exact count
    vs sketch estimate (min over depths).  The CM table is the
    mergeable form: per-shard tables sum cell-wise (commutative), so
    frequency tracking at 100 TB never shuffles words — only the
    depth x width cell grid (1024 rows here).

    Deterministic: md5-derived buckets; the over-count property
    (estimate >= exact, asserted by the oracle comparison via the
    boolean column) is the sketch's defining invariant.
    """
    from ..operators.text import words

    d = _t(spark, sf_dir, "documents")
    tok = d.select(F.explode(words(F.col("text"))).alias("w"))
    cells = tok.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dep).alias("depth"),
                        _cm_bucket(dep, F.col("w")).alias("bucket"),
                    )
                    for dep in range(_CM_DEPTH)
                ]
            )
        ).alias("c")
    ).groupBy("c.depth", "c.bucket").agg(F.count(F.lit(1)).alias("n"))

    exact = tok.groupBy("w").agg(F.count(F.lit(1)).alias("n_exact"))
    # Deterministic top-K via orderBy().limit(): Spark plans this as a
    # distributed TakeOrderedAndProject (per-partition heaps merged on
    # the driver), unlike a global row_number() window which funnels
    # the whole billion-token vocabulary through ONE partition.
    top = exact.orderBy(F.col("n_exact").desc(), F.col("w")).limit(_CM_TOPK)
    probes = top.select(
        "w",
        "n_exact",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dep).alias("depth"),
                        _cm_bucket(dep, F.col("w")).alias("bucket"),
                    )
                    for dep in range(_CM_DEPTH)
                ]
            )
        ).alias("c"),
    ).select("w", "n_exact", "c.depth", "c.bucket")
    return (
        probes.join(F.broadcast(cells), ["depth", "bucket"])
        .groupBy("w")
        .agg(
            F.first("n_exact").alias("n_exact"),
            F.min("n").alias("n_est"),
        )
        .select(
            F.col("w").alias("word"),
            F.col("n_exact").cast("bigint").alias("n_exact"),
            F.col("n_est").cast("bigint").alias("n_est"),
            (F.col("n_est") >= F.col("n_exact")).alias("never_undercounts"),
        )
    )


def _cm_bucket_sql(depth: int, word_expr: str) -> str:
    from ..functions.hashing import md5_long_sql

    return (
        md5_long_sql(f"concat('{depth}', ':', {word_expr})")
        + f" % {_CM_WIDTH}"
    )


def _cm_cells_sql() -> str:
    unions = " UNION ALL ".join(
        f"SELECT {dep} AS depth, {_cm_bucket_sql(dep, 'w')} AS bucket FROM tok"
        for dep in range(_CM_DEPTH)
    )
    return f"({unions})"


SQL_SKETCH_COUNTMIN_TOPK = f"""
WITH tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
  FROM documents
),
cells AS (
  SELECT depth, bucket, count(*) AS n
  FROM {_cm_cells_sql()}
  GROUP BY 1, 2
),
exact AS (SELECT w, count(*) AS n_exact FROM tok GROUP BY 1),
top AS (
  SELECT w, n_exact FROM exact
  QUALIFY row_number() OVER (ORDER BY n_exact DESC, w) <= {_CM_TOPK}
),
probes AS (
  {" UNION ALL ".join(
      f"SELECT w, n_exact, {dep} AS depth, "
      + _cm_bucket_sql(dep, "w")
      + " AS bucket FROM top"
      for dep in range(_CM_DEPTH)
  )}
)
SELECT p.w AS word,
       CAST(any_value(p.n_exact) AS BIGINT) AS n_exact,
       CAST(min(c.n) AS BIGINT) AS n_est,
       min(c.n) >= any_value(p.n_exact) AS never_undercounts
FROM probes p JOIN cells c USING (depth, bucket)
GROUP BY p.w
"""


QUERIES: dict[str, QuerySpec] = {
    "sketch_hll_mergeable": QuerySpec(
        q_sketch_hll_mergeable, SQL_SKETCH_HLL_MERGEABLE
    ),
    "sketch_hll_daily_rollup": QuerySpec(
        q_sketch_hll_daily_rollup, SQL_SKETCH_HLL_DAILY_ROLLUP
    ),
    "sketch_countmin_topk": QuerySpec(
        q_sketch_countmin_topk, SQL_SKETCH_COUNTMIN_TOPK
    ),
}


# --------------------------------------------------------------------
# HLL set-intersection estimation (inclusion-exclusion)
# --------------------------------------------------------------------


def q_sketch_hll_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimated audience overlap between event types from SKETCHES
    ONLY: |A n B| ~ est(A) + est(B) - est(A u B) via HLL union —
    the mergeable-summary answer to "how many users both view and
    purchase" without re-reading events.  Inclusion-exclusion
    amplifies HLL error (three estimates subtract), so the guard band
    is 15% of the union rather than the single-sketch 5%.

    Bounded-error oracle: output = exact intersection + a
    within-band boolean (same discipline as sketch_hll_mergeable)."""
    e = _t(spark, sf_dir, "events")
    pair = ("view", "purchase")
    sk = (
        e.filter(F.col("event_type").isin(*pair))
        .groupBy("event_type")
        .agg(F.hll_sketch_agg("user_id", F.lit(LG_K)).alias("sk"))
    )
    # Single-aggregate shapes so the output is EXACTLY one row even
    # when one (or both) event types are absent from the data — a
    # pivot over an empty frame would return zero rows while the
    # oracle's aggregate returns one, and a missing type's NULL
    # estimate would NULL the band flag; absent sets count as 0.
    est = sk.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("event_type") == pair[0],
                    F.hll_sketch_estimate("sk"),
                )
            ),
            F.lit(0).cast("long"),
        ).alias("ea"),
        F.coalesce(
            F.max(
                F.when(
                    F.col("event_type") == pair[1],
                    F.hll_sketch_estimate("sk"),
                )
            ),
            F.lit(0).cast("long"),
        ).alias("eb"),
        F.coalesce(
            F.hll_sketch_estimate(F.hll_union_agg("sk")),
            F.lit(0).cast("long"),
        ).alias("u"),
    )
    exact = (
        e.filter(F.col("event_type") == pair[0])
        .select("user_id")
        .intersect(
            e.filter(F.col("event_type") == pair[1]).select("user_id")
        )
        .agg(F.count(F.lit(1)).alias("exact_overlap"))
    )
    wide = est.crossJoin(F.broadcast(exact))
    approx = F.col("ea") + F.col("eb") - F.col("u")
    return wide.select(
        "exact_overlap",
        (
            F.abs(approx - F.col("exact_overlap"))
            <= F.lit(0.15) * F.col("u")
        ).alias("within_band"),
    )


SQL_SKETCH_HLL_INTERSECT = """
WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT count(*) AS exact_overlap, TRUE AS within_band
FROM a JOIN b USING (user_id)
"""


QUERIES["sketch_hll_intersect"] = QuerySpec(
    q_sketch_hll_intersect, SQL_SKETCH_HLL_INTERSECT
)


def q_sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct sketch (k=64) per event type, built
    on a PORTABLE md5-derived hash — unlike the HLL family (whose
    xxhash-based internals need a bounded-error oracle), KMV's
    estimate ((k-1) * M / h_k over hash space M = 16^15) replays
    EXACTLY in any engine, so the oracle hash-matches the estimate
    itself, alongside the exact distinct count and the error in ppm.

    Mergeability (why a 100 TB pipeline keeps KMV summaries): the
    union of two KMV sketches is the k smallest of the merged value
    lists — same shape as this query's per-type build.

    Scale: one (type, hash) distinct aggregate, one per-type window
    over hash order (frame bounded: row_number stops mattering past
    k), 1-row-per-type estimate arithmetic."""
    k = 64
    m_space = float(16 ** 15)
    e = _t(spark, sf_dir, "events")
    h = md5_long(F.concat(F.col("user_id").cast("string"), F.lit("|kmv")))
    hashes = e.select("event_type", h.alias("h")).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    kept = hashes.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= k
    )
    per_type = kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("h_k")
    )
    exact = hashes.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("exact_distinct")
    )
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("double")
    ).otherwise((k - 1) * (F.lit(m_space) / F.col("h_k")))
    joined = per_type.join(exact, "event_type").select(
        "event_type",
        F.floor(est).cast("long").alias("est_distinct"),
        "exact_distinct",
    )
    return joined.select(
        "event_type",
        "est_distinct",
        "exact_distinct",
        F.expr(
            "abs(est_distinct - exact_distinct) * 1000000 div exact_distinct"
        ).alias("err_ppm"),
    )


SQL_SKETCH_KMV_DISTINCT = """
WITH hashes AS (
  SELECT DISTINCT event_type,
         CAST(concat('0x', substr(md5(user_id || '|kmv'), 1, 15)) AS BIGINT) AS h
  FROM events
),
kept AS (
  SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
  FROM hashes
),
per_type AS (
  SELECT event_type, count(*) AS n_kept, max(h) AS h_k
  FROM kept WHERE rk <= 64 GROUP BY event_type
),
exact AS (
  SELECT event_type, count(*) AS exact_distinct FROM hashes GROUP BY event_type
),
j AS (
  SELECT event_type,
         CAST(floor(CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
                         ELSE 63 * (1152921504606846976.0 / h_k) END)
              AS BIGINT) AS est_distinct,
         exact_distinct
  FROM per_type JOIN exact USING (event_type)
)
SELECT event_type, est_distinct, CAST(exact_distinct AS BIGINT) AS exact_distinct,
       abs(est_distinct - exact_distinct) * 1000000 // exact_distinct AS err_ppm
FROM j
"""


QUERIES["sketch_kmv_distinct"] = QuerySpec(
    q_sketch_kmv_distinct, SQL_SKETCH_KMV_DISTINCT
)
