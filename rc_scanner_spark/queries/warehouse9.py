"""Round-6 batch 17: ABC revenue classification, sliding-window HLL
distinct counts, and order-independent partition checksums.

Why these belong in a 100 TB training-data engine:

* ``orders_abc_classification`` — ABC analysis (A = parts covering
  the first 80% of revenue, B to 95%, C the tail) is the standard
  Pareto segmentation.  The rank/cumsum windows partition BY
  PRODUCT TYPE, so no global sort of the part dimension exists; the
  cumulative-share comparisons stay in exact decimal cents
  (cross-multiplied, never divided) so class boundaries cannot drift
  between engines.
* ``sketch_hll_sliding`` — trailing-7-day distinct users served from
  MERGEABLE daily sketches is the canonical "don't rescan history"
  pattern: the raw scan builds one sketch per day, every sliding
  window is a 7-way sketch union.  At 100 TB the daily sketch table
  is the only thing that ever re-aggregates.
* ``profile_partition_checksums`` — migration/replication audits
  need per-partition fingerprints that any engine can recompute in
  any row order: an XOR fold and a modular sum of portable md5-60bit
  row hashes are both order- and partition-independent (integer
  ops), catching respectively corruption and duplicate-row drift.

Engine-parity notes: the ABC boundaries compare decimal/HUGEINT
integers (no doubles anywhere); the HLL twin follows the repo's
sketch convention (exact distinct + a tolerance boolean on the
estimating side, since register layouts are engine-private); the
checksums ride bit_xor / decimal-mod over the md5-15-hex portable
hash both engines compute identically.

Reference scope note: the reference engine (scanner.py:120-175) has
no analytics surface; these extend SURVEY.md §2.B's warehouse /
sketch categories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from . import QuerySpec, load_tuned

_t = load_tuned


# --------------------------------------------------------------------
# ABC (Pareto) revenue classification within product type
# --------------------------------------------------------------------


def q_orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC classification of parts by revenue within each product
    type: rank parts by revenue, class A while the running revenue
    share (including the current part) stays <= 80%, B to 95%, C
    beyond; report per (type, class) part counts and revenue.

    Scale: revenue is one part-keyed aggregate; the rank/cumsum
    windows partition by p_type (bounded fan-in per partition by the
    catalog shape, never a global sort); class edges compare exact
    integers via cross-multiplication (cum * 100 <= total * 80) —
    no double shares, no boundary drift."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
        )
        .cast("bigint")
        .alias("rev_cents"),
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    per_part = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_type", "p_partkey")
        .agg(F.sum(F.col("rev_cents").cast("decimal(38,0)")).alias("rev"))
    )
    w = Window.partitionBy("p_type").orderBy(
        F.desc("rev"), "p_partkey"
    )
    wt = Window.partitionBy("p_type")
    classed = (
        per_part.withColumn(
            "cum",
            F.sum("rev").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn("total", F.sum("rev").over(wt))
        .withColumn(
            "abc_class",
            F.when(F.col("cum") * 100 <= F.col("total") * 80, "A")
            .when(F.col("cum") * 100 <= F.col("total") * 95, "B")
            .otherwise("C"),
        )
    )
    return (
        classed.groupBy("p_type", "abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rev").cast("bigint").alias("revenue_cents"),
        )
        .orderBy("p_type", "abc_class")
    )


SQL_ORDERS_ABC_CLASSIFICATION = """
WITH per_part AS (
  SELECT p.p_type, p.p_partkey,
         sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 100
                        + 0.5) AS HUGEINT)) AS rev
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
),
classed AS (
  SELECT p_type, rev,
         CASE WHEN sum(rev) OVER w * 100
                   <= sum(rev) OVER (PARTITION BY p_type) * 80 THEN 'A'
              WHEN sum(rev) OVER w * 100
                   <= sum(rev) OVER (PARTITION BY p_type) * 95 THEN 'B'
              ELSE 'C' END AS abc_class
  FROM per_part
  WINDOW w AS (PARTITION BY p_type ORDER BY rev DESC, p_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT p_type, abc_class, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(rev) AS BIGINT) AS revenue_cents
FROM classed GROUP BY 1, 2 ORDER BY p_type, abc_class
"""


# --------------------------------------------------------------------
# sliding-window distinct via mergeable HLL sketches
# --------------------------------------------------------------------

_HLL_SLIDE_LG_K = 12
_HLL_SLIDE_DAYS = 7


def q_sketch_hll_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day, served by UNION-merging
    persistable daily HLL sketches (each daily sketch fans out to the
    7 window days it contributes to) — the raw event scan happens
    once; every window is a sketch merge.

    Scale: the sketch table is one row per day; the fan-out explode
    multiplies DAYS x 7, not events; the exact-count comparison
    column follows the repo's sketch convention (the estimate is
    checked against exact within 5% — register layouts are
    engine-private, so the DuckDB twin carries the exact count and a
    constant TRUE)."""
    e = _t(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(_HLL_SLIDE_LG_K)).alias("sk")
    )
    days = daily.select("day")
    contrib = daily.select(
        "sk",
        F.explode(
            F.expr(f"sequence(0, {_HLL_SLIDE_DAYS - 1})")
        ).alias("j"),
        F.expr("date_add(day, CAST(j AS INT))").alias("win_day"),
    ).drop("j")
    rolled = (
        contrib.join(days.withColumnRenamed("day", "win_day"), "win_day")
        .groupBy("win_day")
        .agg(F.hll_union_agg("sk").alias("sk"))
        .select(
            "win_day", F.hll_sketch_estimate("sk").alias("approx")
        )
    )
    # exact trailing distinct from the deduped (user, day) frame
    uw = e.select(F.to_date("ts").alias("day"), "user_id").distinct()
    exact = (
        uw.select(
            "user_id",
            F.explode(
                F.expr(f"sequence(0, {_HLL_SLIDE_DAYS - 1})")
            ).alias("j"),
            F.expr("date_add(day, CAST(j AS INT))").alias("win_day"),
        )
        .join(days.withColumnRenamed("day", "win_day"), "win_day")
        .groupBy("win_day")
        .agg(F.countDistinct("user_id").alias("exact_users_7d"))
    )
    return (
        rolled.join(exact, "win_day")
        .select(
            F.date_format("win_day", "yyyy-MM-dd").alias("day"),
            "exact_users_7d",
            (
                F.abs(F.col("approx") - F.col("exact_users_7d"))
                / F.col("exact_users_7d")
                <= 0.05
            ).alias("approx_ok"),
        )
        .orderBy("day")
    )


SQL_SKETCH_HLL_SLIDING = f"""
WITH uw AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
days AS (SELECT DISTINCT day FROM uw)
SELECT strftime(d.day, '%Y-%m-%d') AS day,
       CAST(count(DISTINCT u.user_id) AS BIGINT) AS exact_users_7d,
       TRUE AS approx_ok
FROM days d
JOIN uw u ON u.day BETWEEN d.day - {_HLL_SLIDE_DAYS - 1} AND d.day
GROUP BY 1 ORDER BY day
"""


# --------------------------------------------------------------------
# order-independent partition checksums (migration audit)
# --------------------------------------------------------------------

_CKSUM_MOD = "1152921504606846976"  # 2^60


def q_profile_partition_checksums(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source corpus fingerprints for replication / migration
    audits: row count, an XOR fold, and a modular sum of the portable
    md5-60bit hash of (doc_id, text).  Both folds are integer ops —
    order- and partition-independent, so ANY engine reading the same
    rows in ANY order reproduces them; XOR catches corruption, the
    modular sum catches duplicated/dropped rows that XOR cancels.

    Scale: one map-side hash + one grouped aggregate; nothing
    shuffles except the per-source reduction.

    The chr(1) separator (spelled as the ESCAPE "\\x01", never a raw
    byte — an invisible literal invites a parity-breaking "fix")
    disambiguates (1, "2x") from (12, "x"); NULL text hashes as ''
    by explicit contract on both sides (Spark concat NULL-propagates
    where DuckDB concat treats NULL as '')."""
    h = md5_long(
        F.concat(
            F.col("doc_id").cast("string"),
            F.lit("\x01"),
            F.coalesce(F.col("text"), F.lit("")),
        )
    )
    docs = _t(spark, sf_dir, "documents").select(
        "source", h.alias("h")
    )
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(h)").alias("xor_checksum"),
            F.expr(
                f"CAST(sum(CAST(h AS DECIMAL(38,0))) % {_CKSUM_MOD}"
                " AS BIGINT)"
            ).alias("modsum_checksum"),
        )
        .orderBy("source")
    )


SQL_PROFILE_PARTITION_CHECKSUMS = f"""
WITH hashed AS (
  SELECT source,
         CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
                chr(1), COALESCE(text, ''))), 1, 15)) AS BIGINT) AS h
  FROM documents
)
SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(bit_xor(h) AS BIGINT) AS xor_checksum,
       CAST(sum(CAST(h AS HUGEINT)) % {_CKSUM_MOD} AS BIGINT)
         AS modsum_checksum
FROM hashed GROUP BY 1 ORDER BY source
"""


QUERIES: dict[str, QuerySpec] = {
    "orders_abc_classification": QuerySpec(
        q_orders_abc_classification, SQL_ORDERS_ABC_CLASSIFICATION
    ),
    "sketch_hll_sliding": QuerySpec(
        q_sketch_hll_sliding, SQL_SKETCH_HLL_SLIDING
    ),
    "profile_partition_checksums": QuerySpec(
        q_profile_partition_checksums, SQL_PROFILE_PARTITION_CHECKSUMS
    ),
}
