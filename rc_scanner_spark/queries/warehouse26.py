"""Round-8 batch 34: concentration, seasonal decomposition, corpus
novelty, and backlog aging.

Why these belong in a 100 TB training-data engine:

* ``agg_hhi_concentration`` — the Herfindahl–Hirschman index of
  customer spend per nation: the standard concentration measure
  (complement to the Gini/Theil family already in the registry) —
  for a corpus it answers "is this source dominated by a few
  uploaders".
* ``orders_seasonality_decomposition`` — classic 2×12 centered
  moving-average decomposition of monthly revenue into trend +
  month-of-year seasonal + residual, entirely in integers (the
  24-weighted trend numerator is exact; every division is a mirrored
  truncating DIV).
* ``text_novelty_decay`` — how fast shingle novelty decays across
  corpus order: per doc-id decile, the share of its 3-word shingles
  first seen in that doc.  The curve every data-curation loop reads
  before deciding whether more of the same source is worth ingesting.
* ``orders_backlog_aging`` — open-order aging buckets against the
  snapshot date (max order date): the WIP-health readout.

Engine-parity notes: HHI per-customer share² terms are quantized to
integer ppb before the cross-customer sum (docs/PARITY.md #10); the
seasonal decomposition never leaves integer arithmetic (trend×24,
detrended×24, milli outputs via truncating DIV — both engines
truncate toward zero, verified on negatives); the novelty curve
reuses the shared k=3 word-shingle builders on both sides.

Reference scope note: the reference engine (scanner.py:120-175) has
no analytics surface; extends SURVEY.md §2.B's aggregation /
time-series / LLM-pipeline categories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import word_shingles
from . import QuerySpec, load_tuned
from .llm import SQL_WORD_SHINGLES_CTE_K3

_t = load_tuned


# --------------------------------------------------------------------
# Herfindahl–Hirschman concentration
# --------------------------------------------------------------------


def q_agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HHI of customer spend per nation: Σ_customers share², with each
    share² term quantized to integer ppb before the sum (float sums
    are association-order-dependent across engines).  1e9 ppb = a
    single customer holds the whole nation.

    Scale: one customer-keyed aggregate, one key join to customer,
    one broadcast nation dim, one nation-keyed fold; the per-nation
    totals broadcast back as a 25-row frame."""
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_cust = (
        o.groupBy("o_custkey")
        .agg(F.sum("cents").alias("cc"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("n_name", "cc")
    )
    totals = per_cust.groupBy("n_name").agg(F.sum("cc").alias("tot"))
    # tot = 0 (every order zero-priced) is an ANSI double-division
    # throw on Spark but inf/NaN on DuckDB (review r8) — NULL on both
    share = F.when(
        F.col("tot") > 0,
        F.col("cc").cast("double") / F.col("tot").cast("double"),
    )
    terms = per_cust.join(F.broadcast(totals), "n_name").select(
        "n_name",
        F.floor(share * share * 1e9 + 0.5).cast("long").alias("t_ppb"),
        F.floor(share * 1e6 + 0.5).cast("long").alias("s_ppm"),
    )
    return (
        terms.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("t_ppb").alias("hhi_ppb"),
            F.max("s_ppm").alias("top_share_ppm"),
        )
        .orderBy("n_name")
    )


SQL_AGG_HHI_CONCENTRATION = """
WITH per_cust AS (
  SELECT n.n_name, CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                        AS BIGINT) AS cc
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY o.o_custkey, n.n_name
),
totals AS (
  SELECT n_name, CAST(sum(cc) AS BIGINT) AS tot FROM per_cust GROUP BY 1
)
SELECT p.n_name, count(*) AS n_customers,
       CAST(sum(CASE WHEN tot > 0 THEN
            CAST(floor((CAST(cc AS DOUBLE) / CAST(tot AS DOUBLE))
                       * (CAST(cc AS DOUBLE) / CAST(tot AS DOUBLE))
                       * 1e9 + 0.5) AS BIGINT) END) AS BIGINT) AS hhi_ppb,
       CAST(max(CASE WHEN tot > 0 THEN
            CAST(floor(CAST(cc AS DOUBLE) / CAST(tot AS DOUBLE) * 1e6
                       + 0.5) AS BIGINT) END) AS BIGINT) AS top_share_ppm
FROM per_cust p JOIN totals t USING (n_name)
GROUP BY p.n_name
ORDER BY p.n_name
"""


# --------------------------------------------------------------------
# 2x12 moving-average seasonal decomposition
# --------------------------------------------------------------------


def q_orders_seasonality_decomposition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Monthly revenue decomposed into trend + seasonal + residual via
    the classic 2×12 centered MA: trend×24 = rev[t−6] + 2·Σ_{−5..+5}
    rev + rev[t+6] (exact integer), seasonal = month-of-year mean of
    the detrended series, residual = revenue − trend − seasonal.  The
    first/last six months have no centered window → NULL trend.

    Assumes the month sequence is contiguous (TPC-H order dates are);
    a gapped calendar would need the day-spine join first.

    Scale: the windows run over the MONTHLY aggregate — bounded by
    calendar length (~centuries before this matters), not rows; the
    seasonal join is a broadcast 12-row frame."""
    o = _t(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("mon"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    m = o.groupBy("mon").agg(F.sum("cents").alias("rev"))
    w = Window.orderBy("mon")
    wall = Window.orderBy("mon").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w11 = Window.orderBy("mon").rowsBetween(-5, 5)
    # the trend combination runs in decimal(38,0) (review r8: t24*1000
    # passes 2^63 once monthly revenue nears 1e16 cents, and Spark
    # BIGINT would throw where DuckDB's HUGEINT window sums sail on);
    # the OUTPUT milli columns stay BIGINT — exact up to ~$9e13/month
    rev38 = F.col("rev").cast("decimal(38,0)")
    m = m.select(
        "mon",
        "rev",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("cnt"),
        (
            F.lag(rev38, 6).over(w)
            + F.lead(rev38, 6).over(w)
            + 2 * F.sum(rev38).over(w11)
        ).alias("t24"),
    )
    m = m.withColumn(
        "t24",
        F.when((F.col("rn") > 6) & (F.col("rn") <= F.col("cnt") - 6), F.col("t24")),
    ).withColumn("moy", F.substring("mon", 6, 2).cast("int"))
    seas = (
        m.filter(F.col("t24").isNotNull())
        .select(
            "moy",
            (24 * F.col("rev").cast("decimal(38,0)") - F.col("t24")).alias("d24"),
        )
        .groupBy("moy")
        .agg(F.sum("d24").alias("sd"), F.count(F.lit(1)).alias("nm"))
        .select(
            "moy",
            F.expr("(sd * 1000) DIV (24 * nm)").alias("seasonal_milli"),
        )
    )
    out = m.join(F.broadcast(seas), "moy", "left").select(
        "mon",
        F.col("rev").alias("rev_cents"),
        F.expr("(t24 * 1000) DIV 24").alias("trend_milli"),
        F.when(F.col("t24").isNotNull(), F.col("seasonal_milli")).alias(
            "seasonal_milli"
        ),
        F.when(
            F.col("t24").isNotNull(),
            F.col("rev") * 10
            - F.expr("(t24 * 1000) DIV 24")
            - F.col("seasonal_milli"),
        ).alias("resid_milli"),
    )
    return out.orderBy("mon")


SQL_ORDERS_SEASONALITY_DECOMPOSITION = """
WITH o AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS mon,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
m0 AS (
  SELECT mon, CAST(sum(cents) AS BIGINT) AS rev FROM o GROUP BY mon
),
m1 AS (
  SELECT mon, rev,
         row_number() OVER (ORDER BY mon) AS rn,
         count(*) OVER () AS cnt,
         lag(rev, 6) OVER (ORDER BY mon)
           + lead(rev, 6) OVER (ORDER BY mon)
           + 2 * sum(rev) OVER (ORDER BY mon
                                ROWS BETWEEN 5 PRECEDING AND 5 FOLLOWING)
           AS t24_raw
  FROM m0
),
m AS (
  SELECT mon, rev,
         CASE WHEN rn > 6 AND rn <= cnt - 6 THEN t24_raw END AS t24,
         CAST(substr(mon, 6, 2) AS INT) AS moy
  FROM m1
),
seas AS (
  SELECT moy, (sum(24 * CAST(rev AS HUGEINT) - t24) * 1000)
                // (24 * count(*)) AS seasonal_milli
  FROM m WHERE t24 IS NOT NULL GROUP BY moy
)
SELECT m.mon, m.rev AS rev_cents,
       CAST((m.t24 * 1000) // 24 AS BIGINT) AS trend_milli,
       CAST(CASE WHEN m.t24 IS NOT NULL THEN s.seasonal_milli END AS BIGINT)
         AS seasonal_milli,
       CAST(CASE WHEN m.t24 IS NOT NULL
                 THEN m.rev * 10 - (m.t24 * 1000) // 24 - s.seasonal_milli
            END AS BIGINT) AS resid_milli
FROM m LEFT JOIN seas s USING (moy)
ORDER BY m.mon
"""


# --------------------------------------------------------------------
# shingle novelty by corpus position
# --------------------------------------------------------------------


def q_text_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty decay across corpus order: per doc-id decile, the share
    of 3-word shingles whose FIRST occurrence (global min doc_id) is
    in that decile's docs.  A flat curve means fresh content keeps
    arriving; a collapsing one means the source is exhausted.

    Scale: shingles explode map-side into a (shingle → min doc)
    aggregate; novel-counts fold from that frame with NO join back to
    the shingle level (count per min_doc IS the novelty count);
    deciles come from a 1-row min/max id broadcast, not a rank
    window."""

    # r14: the shingle projection fed THREE un-cached consumers (the
    # per-doc sizes, the span scalar via per_doc, and the first-
    # occurrence explode) — profiled as two 6-13 s-CPU stages of the
    # same tokenize at sf0.1.  Persist it once, computed at session
    # width (entry repartition of the raw doc rows).
    d = (
        _t(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", word_shingles(F.col("text")).alias("sh"))
        .persist()
    )
    per_doc = d.select("doc_id", F.size("sh").alias("n_sh"))
    firsts = (
        d.select("doc_id", F.explode("sh").alias("s"))
        .groupBy("s")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count(F.lit(1)).alias("n_novel"))
    )
    span = per_doc.agg(
        F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
    )
    dec = F.least(
        F.lit(9),
        F.expr("((doc_id - lo) * 10) DIV (hi - lo + 1)"),
    )
    per_doc = (
        per_doc.join(
            firsts, F.col("doc_id") == F.col("first_doc"), "left"
        )
        .crossJoin(F.broadcast(span))
        .select(
            dec.alias("decile"),
            "n_sh",
            F.coalesce("n_novel", F.lit(0)).alias("nn"),
        )
    )
    agg = per_doc.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_sh").alias("n_shingles"),
        F.sum("nn").alias("n_novel"),
    )
    ppm = F.when(
        F.col("n_shingles") > 0,
        F.floor(
            F.col("n_novel").cast("double")
            / F.col("n_shingles").cast("double")
            * 1e6
            + 0.5
        ).cast("long"),
    )
    return agg.select(
        "decile", "n_docs", "n_shingles", "n_novel", ppm.alias("novelty_ppm")
    ).orderBy("decile")


SQL_TEXT_NOVELTY_DECAY = f"""
WITH {SQL_WORD_SHINGLES_CTE_K3},
per_doc AS (
  SELECT doc_id, len(sh) AS n_sh FROM s
),
ex AS (
  SELECT doc_id, unnest(sh) AS tok FROM s
),
firsts AS (
  SELECT first_doc, count(*) AS n_novel FROM (
    SELECT tok, min(doc_id) AS first_doc FROM ex GROUP BY tok
  ) GROUP BY first_doc
),
span AS (SELECT min(doc_id) AS lo, max(doc_id) AS hi FROM per_doc),
marked AS (
  SELECT least(9, ((p.doc_id - sp.lo) * 10) // (sp.hi - sp.lo + 1)) AS decile,
         p.n_sh, coalesce(f.n_novel, 0) AS nn
  FROM per_doc p
  LEFT JOIN firsts f ON p.doc_id = f.first_doc
  CROSS JOIN span sp
),
agg AS (
  SELECT decile, count(*) AS n_docs,
         CAST(sum(n_sh) AS BIGINT) AS n_shingles,
         CAST(sum(nn) AS BIGINT) AS n_novel
  FROM marked GROUP BY decile
)
SELECT decile, CAST(n_docs AS BIGINT) AS n_docs, n_shingles, n_novel,
       CAST(CASE WHEN n_shingles > 0
                 THEN floor(CAST(n_novel AS DOUBLE)
                            / CAST(n_shingles AS DOUBLE) * 1e6 + 0.5)
            END AS BIGINT) AS novelty_ppm
FROM agg ORDER BY decile
"""


# --------------------------------------------------------------------
# open-order backlog aging
# --------------------------------------------------------------------


def q_orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order (status O/P) aging buckets against the snapshot date
    (max order date in the data): order counts and tied-up value per
    status × age bucket.

    Scale: one 1-row snapshot-date broadcast, one map-side bucket
    projection, one bounded (status × 4 buckets) aggregate."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderstatus",
        F.to_date("o_orderdate").alias("od"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    snap = o.agg(F.max("od").alias("snap"))
    aged = (
        o.filter(F.col("o_orderstatus").isin("O", "P"))
        .crossJoin(F.broadcast(snap))
        .select(
            "o_orderstatus",
            "cents",
            F.datediff(F.col("snap"), F.col("od")).alias("age"),
        )
    )
    bucket = (
        F.when(F.col("age") < 30, F.lit("00-29d"))
        .when(F.col("age") < 90, F.lit("30-89d"))
        .when(F.col("age") < 365, F.lit("90-364d"))
        .otherwise(F.lit("365d+"))
    )
    return (
        aged.select("o_orderstatus", bucket.alias("age_bucket"), "cents")
        .groupBy("o_orderstatus", "age_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("value_cents"),
        )
        .orderBy("o_orderstatus", "age_bucket")
    )


SQL_ORDERS_BACKLOG_AGING = """
WITH o AS (
  SELECT o_orderstatus, CAST(o_orderdate AS DATE) AS od,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
snap AS (SELECT max(od) AS snap FROM o),
aged AS (
  SELECT o_orderstatus, cents, date_diff('day', od, s.snap) AS age
  FROM o CROSS JOIN snap s
  WHERE o_orderstatus IN ('O', 'P')
)
SELECT o_orderstatus,
       CASE WHEN age < 30 THEN '00-29d'
            WHEN age < 90 THEN '30-89d'
            WHEN age < 365 THEN '90-364d'
            ELSE '365d+' END AS age_bucket,
       count(*) AS n_orders,
       CAST(sum(cents) AS BIGINT) AS value_cents
FROM aged
GROUP BY 1, 2
ORDER BY o_orderstatus, age_bucket
"""


QUERIES: dict[str, QuerySpec] = {
    "agg_hhi_concentration": QuerySpec(
        q_agg_hhi_concentration, SQL_AGG_HHI_CONCENTRATION
    ),
    "orders_seasonality_decomposition": QuerySpec(
        q_orders_seasonality_decomposition, SQL_ORDERS_SEASONALITY_DECOMPOSITION
    ),
    "text_novelty_decay": QuerySpec(q_text_novelty_decay, SQL_TEXT_NOVELTY_DECAY),
    "orders_backlog_aging": QuerySpec(
        q_orders_backlog_aging, SQL_ORDERS_BACKLOG_AGING
    ),
}
