"""Round-6 batch 22: MinHash accuracy evaluation, activity heatmap,
and inter-arrival burstiness.

Why these belong in a 100 TB training-data engine:

* ``dedup_minhash_accuracy`` — before trusting a 16-perm MinHash to
  gate dedup at corpus scale, measure its error against exact
  Jaccard on a deterministic pair sample, banded by true similarity
  (the estimator is exactly unbiased but 16 perms is noisy — this
  op quantifies the noise where it matters, near the threshold).
  Integer end-to-end: match counts over 16, exact Jaccard in milli
  via integer division.
* ``events_dow_hour_heatmap`` — the weekday-by-hour activity matrix
  is the first capacity/seasonality picture anyone draws; one
  grouped aggregate, 168 output rows, weekday keyed engine-neutrally
  (Spark ``weekday`` == DuckDB ``isodow - 1``, the verified idiom).
* ``orders_interarrival_cv`` — the coefficient of variation of
  inter-order gaps separates steady customers (CV < 1) from bursty
  ones (CV > 1); pooled per segment from exact integer moment sums,
  with only the final sqrt chain in doubles.

Engine-parity notes: MinHash permutations are the portable
md5-60bit min idiom shared with ``dedup_minhash_portable``; all
accuracy numbers are integer milli (no float surface); the CV chain
floors doubles built from decimal/HUGEINT moments with
zero-denominator guards mirrored as CASE/NULLIF.

Reference scope note: the reference engine (scanner.py:120-175) has
no analytics surface; extends SURVEY.md §2.B's dedup / warehouse
categories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from . import QuerySpec, load_tuned

_t = load_tuned

_MA_PERMS = 16
_MA_BUCKETS = 32
_MA_SHINGLE_K = 3


def q_dedup_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-vs-exact-Jaccard error profile over deterministic
    md5-bucket pair samples: per true-Jaccard decile band, the pair
    count and the mean/max milli error of the 16-perm estimate
    (matches/16).

    Scale: shingles and signatures build in one pass (the signature
    is 16 min-aggregates over the shingle stream); pairs form only
    within md5 buckets ((N/B)^2 fan-out, B the blocking knob); the
    exact-intersection join is bucket-restricted to the same pair
    set.  Integer milli end-to-end."""
    from ..operators.dedup import word_shingles

    # shared builders: word_shingles is the verified k-gram idiom the
    # whole MinHash family uses; md5_long the md5-60bit twin.
    # sh feeds sig + both sides of the exact-intersection join and
    # sig feeds both pair sides — persist both (released by
    # bench/check_oracle) instead of re-running the shingle explode
    # 3x and the 16-min aggregate 2x.
    sh = (
        _t(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.explode(
                word_shingles(F.col("text"), _MA_SHINGLE_K)
            ).alias("shingle"),
        )
        .withColumn(
            "bucket",
            md5_long(F.concat_ws(":", F.col("doc_id").cast("string")))
            % _MA_BUCKETS,
        )
        .persist()
    )
    # r14 batch 7: the 16 md5-min aggregates and the 16-term match
    # sum are SQL expression strings (same md5/conv/concat_ws chains
    # the Column forms parsed — md5_long over concat_ws(':', ..) —
    # so every signature long is unchanged); cuts ~300 py4j calls of
    # driver plan construction per build.
    sig = (
        sh.groupBy("doc_id", "bucket").agg(
            F.count(F.lit(1)).alias("n_sh"),
            *[
                F.expr(
                    "min(CAST(conv(substring(md5(concat_ws(':',"
                    f" concat('{s}:', shingle))), 1, 15), 16, 10)"
                    f" AS BIGINT)) AS h{s}"
                )
                for s in range(_MA_PERMS)
            ],
        )
        .persist()
    )
    a, b = sig.alias("a"), sig.alias("b")
    matches = F.expr(
        "0 + "
        + " + ".join(
            f"CASE WHEN a.h{s} = b.h{s} THEN 1 ELSE 0 END"
            for s in range(_MA_PERMS)
        )
    )
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("ida"),
        F.col("b.doc_id").alias("idb"),
        F.col("a.n_sh").alias("na"),
        F.col("b.n_sh").alias("nb"),
        matches.alias("m"),
    )
    ea, eb = sh.alias("ea"), sh.alias("eb")
    common = (
        ea.join(
            eb,
            (F.col("ea.shingle") == F.col("eb.shingle"))
            & (F.col("ea.bucket") == F.col("eb.bucket"))
            & (F.col("ea.doc_id") < F.col("eb.doc_id")),
        )
        .groupBy(
            F.col("ea.doc_id").alias("ida"),
            F.col("eb.doc_id").alias("idb"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    per = (
        pairs.join(common, ["ida", "idb"], "left")
        .withColumn("nc", F.coalesce("n_common", F.lit(0)))
        .withColumn(
            "exact_milli",
            F.expr("(nc * 1000) DIV (na + nb - nc)"),
        )
        .withColumn("est_milli", F.expr(f"(m * 1000) DIV {_MA_PERMS}"))
        .withColumn(
            "err_milli", F.abs(F.col("est_milli") - F.col("exact_milli"))
        )
        .withColumn("band", F.expr("CAST(exact_milli DIV 100 AS INT)"))
    )
    return (
        per.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr("sum(err_milli) DIV count(1)").alias("mean_err_milli"),
            F.max("err_milli").alias("max_err_milli"),
        )
        .orderBy("band")
    )


def _ma_sql() -> str:
    def ph(arg: str) -> str:
        return f"CAST(concat('0x', substr(md5({arg}), 1, 15)) AS BIGINT)"

    sig_cols = ",\n         ".join(
        "min({h}) AS h{s}".format(h=ph(f"'{s}:' || shingle"), s=s)
        for s in range(_MA_PERMS)
    )
    match_sum = " + ".join(
        f"CASE WHEN a.h{s} = b.h{s} THEN 1 ELSE 0 END"
        for s in range(_MA_PERMS)
    )
    from .llm import SQL_WORD_SHINGLES_CTE_K3 as _ws

    return f"""
WITH {_ws},
e AS (
  SELECT doc_id,
         {ph("CAST(doc_id AS VARCHAR)")} % {_MA_BUCKETS} AS bucket,
         unnest(sh) AS shingle
  FROM s
),
sig AS (
  SELECT doc_id, bucket, count(*) AS n_sh,
         {sig_cols}
  FROM e GROUP BY doc_id, bucket
),
pairs AS (
  SELECT a.doc_id AS ida, b.doc_id AS idb, a.n_sh AS na, b.n_sh AS nb,
         {match_sum} AS m
  FROM sig a JOIN sig b
    ON a.bucket = b.bucket AND a.doc_id < b.doc_id
),
common AS (
  SELECT ea.doc_id AS ida, eb.doc_id AS idb, count(*) AS n_common
  FROM e ea JOIN e eb
    ON ea.shingle = eb.shingle AND ea.bucket = eb.bucket
   AND ea.doc_id < eb.doc_id
  GROUP BY 1, 2
),
per AS (
  SELECT (COALESCE(c.n_common, 0) * 1000)
           // (p.na + p.nb - COALESCE(c.n_common, 0)) AS exact_milli,
         (p.m * 1000) // {_MA_PERMS} AS est_milli
  FROM pairs p LEFT JOIN common c
    ON c.ida = p.ida AND c.idb = p.idb
)
SELECT CAST(exact_milli // 100 AS INT) AS band,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(abs(est_milli - exact_milli)) // count(*) AS BIGINT)
         AS mean_err_milli,
       CAST(max(abs(est_milli - exact_milli)) AS BIGINT) AS max_err_milli
FROM per GROUP BY 1 ORDER BY band
"""


SQL_DEDUP_MINHASH_ACCURACY = _ma_sql()


def q_events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday-by-hour activity heatmap: event counts per (weekday,
    hour) cell with the corpus share in ppm (double-first floor).

    Scale: one map-side key extraction + one 168-cell aggregate; the
    1-row total is a broadcast scalar."""
    ev = _t(spark, sf_dir, "events").select(
        F.weekday("ts").alias("dow"), F.hour("ts").alias("hour")
    )
    # ONE events scan: the denominator is a window over the <=168-row
    # cell aggregate, not a second pass (review-round fix, r6)
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        ev.groupBy("dow", "hour")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn("n_total", F.sum("n_events").over(w_all))
        .select(
            "dow",
            "hour",
            "n_events",
            F.floor(
                F.col("n_events").cast("double")
                * 1000000.0
                / F.col("n_total").cast("double")
            )
            .cast("bigint")
            .alias("share_ppm"),
        )
        .orderBy("dow", "hour")
    )


SQL_EVENTS_DOW_HOUR_HEATMAP = """
WITH cells AS (
  SELECT isodow(ts) - 1 AS dow, hour(ts) AS hour, count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT dow, hour, CAST(n_events AS BIGINT) AS n_events,
       CAST(floor(CAST(n_events AS DOUBLE) * 1000000.0
                  / CAST(sum(n_events) OVER () AS DOUBLE)) AS BIGINT)
         AS share_ppm
FROM cells ORDER BY dow, hour
"""


def q_orders_interarrival_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of ordering behavior per market segment: pooled
    coefficient of variation of per-customer inter-order day gaps
    (population variance from exact integer moment sums; CV < 1 =
    steady, CV > 1 = bursty).

    Scale: gaps come from a customer-partitioned lag window; moments
    are one grouped aggregate of decimal-exact sums; only the final
    sqrt/ratio chain is double, with the zero-mean degenerate case
    guarded on both sides."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.to_date("o_orderdate").alias("od")
    )
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    gaps = (
        orders.withColumn("prev", F.lag("od").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            "o_custkey", F.datediff("od", "prev").alias("g")
        )
        .join(
            F.broadcast(cust),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    m = gaps.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum(F.col("g").cast("decimal(38,0)")).alias("sg"),
        F.sum(
            (F.col("g").cast("decimal(38,0)") * F.col("g")).cast(
                "decimal(38,0)"
            )
        ).alias("sgg"),
    )
    nd = F.col("n_gaps").cast("double")
    sg = F.col("sg").cast("double")
    sgg = F.col("sgg").cast("double")
    # greatest(.., 0): double rounding past 2^53 can land the
    # mathematically-zero variance a few ulps negative
    cv = F.sqrt(
        F.greatest((nd * sgg - sg * sg) / (nd * nd), F.lit(0.0))
    ) / (sg / nd)
    return m.select(
        "c_mktsegment",
        "n_gaps",
        F.col("sg").cast("bigint").alias("total_gap_days"),
        F.when(sg > 0.0, F.floor(cv * 1000.0).cast("bigint")).alias(
            "cv_milli"
        ),
    ).orderBy("c_mktsegment")


SQL_ORDERS_INTERARRIVAL_CV = """
WITH gaps AS (
  SELECT o_custkey,
         date_diff('day',
                   lag(CAST(o_orderdate AS DATE))
                     OVER (PARTITION BY o_custkey
                           ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
                   CAST(o_orderdate AS DATE)) AS g
  FROM orders
),
j AS (
  SELECT c.c_mktsegment, g.g
  FROM gaps g JOIN customer c ON c.c_custkey = g.o_custkey
  WHERE g.g IS NOT NULL
),
m AS (
  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_gaps,
         sum(CAST(g AS HUGEINT)) AS sg,
         sum(CAST(g AS HUGEINT) * g) AS sgg
  FROM j GROUP BY 1
)
SELECT c_mktsegment, n_gaps,
       CAST(sg AS BIGINT) AS total_gap_days,
       CASE WHEN CAST(sg AS DOUBLE) > 0.0 THEN
         CAST(floor(
           sqrt(GREATEST((CAST(n_gaps AS DOUBLE) * CAST(sgg AS DOUBLE)
                 - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
                / (CAST(n_gaps AS DOUBLE) * CAST(n_gaps AS DOUBLE)), 0.0))
           / (CAST(sg AS DOUBLE) / CAST(n_gaps AS DOUBLE))
           * 1000.0) AS BIGINT)
       END AS cv_milli
FROM m ORDER BY c_mktsegment
"""


QUERIES: dict[str, QuerySpec] = {
    "dedup_minhash_accuracy": QuerySpec(
        q_dedup_minhash_accuracy, SQL_DEDUP_MINHASH_ACCURACY
    ),
    "events_dow_hour_heatmap": QuerySpec(
        q_events_dow_hour_heatmap, SQL_EVENTS_DOW_HOUR_HEATMAP
    ),
    "orders_interarrival_cv": QuerySpec(
        q_orders_interarrival_cv, SQL_ORDERS_INTERARRIVAL_CV
    ),
}
