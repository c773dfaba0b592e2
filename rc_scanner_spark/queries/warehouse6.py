"""Round-6 batch 14: Kaplan-Meier survival, Holt linear smoothing,
corpus-vocabulary OOV rates, and 2-hop graph reach.

Why these belong in a 100 TB training-data engine:

* ``orders_survival_km`` — the Kaplan-Meier estimator with right
  censoring is the standard time-to-repeat curve (repeat purchase,
  churn, time-to-second-contribution) and the canonical example of an
  analysis people wrongly believe needs a stats library: it reduces
  to one per-entity aggregate, one bounded per-duration frame, and a
  running log-sum.  All corpus-sized work is keyed by customer; the
  windows run over the DISTINCT-DURATION frame, bounded by the
  calendar span (O(days)) at any corpus size.
* ``events_holt_linear`` — Holt's linear (level+trend) exponential
  smoothing is the capacity-forecast step on daily volumes.  The
  recursion is inherently sequential, but only over the zero-filled
  per-type DAY spine (bounded), collected to a per-type array and
  folded with ``aggregate`` — raw events never leave the initial
  (type, day) combine.
* ``text_vocab_oov`` — out-of-vocabulary rate against the corpus'
  own top-frequency vocabulary is the standard tokenizer-coverage /
  domain-shift signal before training a tokenizer.  The vocabulary is
  a distributed TakeOrderedAndProject top-500; the per-doc scoring is
  a broadcast hash join on the exploded token stream.
* ``graph_reach_2hop`` — the friends-of-friends reach (nodes exactly
  two hops away) sizes each node's influence neighborhood, the
  candidate-generation primitive for graph-expanded retrieval.
  Reuses the support-pruned persisted co-purchase edge frame shared
  with triangle counting / link prediction; wedges are bounded by
  sum(deg^2) over the pruned graph.

Engine-parity notes: the Holt fold and the recursive-CTE twin
evaluate the same literal arithmetic in the same order, so the milli
floors match bit-exactly.  The K-M running log-sum does NOT trust
float window sums (DuckDB aggregates window frames in segment-tree
order — association differs from Spark's sequential accumulation and
a 1-ulp drift flips a floor): each ln term is quantized to integer
NANO units first, the window sums exact integers (order-independent),
and only the final exp/floor chain is float.  ``ln(0)`` DIVERGES
(Spark NULL, DuckDB -inf), so the d == at-risk terminal case is
defined away with an explicit everyone-died flag on both sides;
counts ride BIGINT with HUGEINT casts in the twin.

Reference scope note: the reference engine (scanner.py:120-175) has
no analytics surface; these extend SURVEY.md §2.B's warehouse /
text / graph categories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import QuerySpec, load_tuned
from .warehouse2 import _SQL_EDGES_CTE, _copurchase_edges

_t = load_tuned


# --------------------------------------------------------------------
# Kaplan-Meier survival (time to second order, right-censored)
# --------------------------------------------------------------------


def q_orders_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier curve for days from first to second order per
    customer; customers with a single order are right-censored at the
    corpus' last order date.  S(t) = prod_{s<=t, d_s>0}(1 - d_s/n_s)
    with n_s the at-risk count.

    Scale: one customer-partitioned rank window picks the first two
    orders; everything after runs on the distinct-duration frame —
    bounded by the calendar span, so its two unpartitioned windows
    (at-risk suffix sum, running log-sum) are O(days) frames at any
    corpus size.  Survival is exp(running sum of ln terms) with each
    term quantized to integer nano-units BEFORE summing — integer
    window sums are association-order-independent where float ones
    are not (see module docstring); the everyone-died terminal case
    (ln 0 diverges across engines) is handled with an explicit flag."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.to_date("o_orderdate").alias("od")
    )
    maxd = orders.agg(F.max("od").alias("mx"))
    w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    firsts = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("o_custkey")
        .agg(
            F.min(F.when(F.col("rn") == 1, F.col("od"))).alias("d1"),
            F.min(F.when(F.col("rn") == 2, F.col("od"))).alias("d2"),
        )
    )
    per_cust = firsts.crossJoin(F.broadcast(maxd)).select(
        F.when(
            F.col("d2").isNotNull(), F.datediff("d2", "d1")
        ).otherwise(F.datediff("mx", "d1")).alias("dur"),
        F.when(F.col("d2").isNotNull(), 1).otherwise(0).alias("event"),
    )
    durs = per_cust.groupBy("dur").agg(
        F.sum("event").alias("d"),
        F.sum(1 - F.col("event")).alias("c"),
    )
    w_risk = Window.orderBy("dur").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    scored = (
        durs.withColumn("n_risk", F.sum(F.col("d") + F.col("c")).over(w_risk))
        .withColumn(
            # ln terms quantized to integer nano-units BEFORE the
            # window sum: float window sums are association-order-
            # dependent (DuckDB aggregates frames in segment-tree
            # order), integer sums are exact in any order.
            "term_nano",
            F.when(
                (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
                F.floor(
                    F.log(1.0 - F.col("d").cast("double") / F.col("n_risk"))
                    * 1000000000.0
                ).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint")),
        )
        .withColumn("logsum_nano", F.sum("term_nano").over(w_cum))
        .withColumn(
            "died_out",
            F.max((F.col("d") == F.col("n_risk")).cast("int")).over(w_cum),
        )
    )
    return (
        scored.filter(F.col("d") > 0)
        .select(
            F.col("dur").alias("duration_days"),
            "n_risk",
            F.col("d").alias("n_events"),
            F.when(F.col("died_out") == 1, F.lit(0))
            .otherwise(
                F.floor(
                    F.exp(
                        F.col("logsum_nano").cast("double") / 1000000000.0
                    )
                    * 1000000.0
                ).cast("bigint")
            )
            .alias("surv_ppm"),
        )
        .orderBy("duration_days")
    )


SQL_ORDERS_SURVIVAL_KM = """
WITH o AS (
  SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS od FROM orders
),
mx AS (SELECT max(od) AS mx FROM o),
ranked AS (
  SELECT o_custkey, od,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY od, o_orderkey) AS rn
  FROM o
),
firsts AS (
  SELECT o_custkey,
         min(CASE WHEN rn = 1 THEN od END) AS d1,
         min(CASE WHEN rn = 2 THEN od END) AS d2
  FROM ranked WHERE rn <= 2 GROUP BY 1
),
per_cust AS (
  SELECT CASE WHEN d2 IS NOT NULL
              THEN date_diff('day', d1, d2)
              ELSE date_diff('day', d1, mx.mx) END AS dur,
         CASE WHEN d2 IS NOT NULL THEN 1 ELSE 0 END AS event
  FROM firsts CROSS JOIN mx
),
durs AS (
  SELECT dur, sum(event) AS d, sum(1 - event) AS c
  FROM per_cust GROUP BY 1
),
scored AS (
  SELECT dur, d,
         sum(d + c) OVER (ORDER BY dur
                          ROWS BETWEEN CURRENT ROW
                          AND UNBOUNDED FOLLOWING) AS n_risk
  FROM durs
),
terms AS (
  SELECT dur, d, n_risk,
         CASE WHEN d > 0 AND d < n_risk
              THEN CAST(floor(ln(1.0 - CAST(d AS DOUBLE) / n_risk)
                              * 1000000000.0) AS BIGINT)
              ELSE 0 END AS term_nano,
         CASE WHEN d = n_risk THEN 1 ELSE 0 END AS died
  FROM scored
),
cum AS (
  SELECT dur, d, n_risk,
         sum(term_nano) OVER (ORDER BY dur
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS logsum_nano,
         max(died) OVER (ORDER BY dur
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS died_out
  FROM terms
)
SELECT dur AS duration_days,
       CAST(n_risk AS BIGINT) AS n_risk,
       CAST(d AS BIGINT) AS n_events,
       CASE WHEN died_out = 1 THEN 0
            ELSE CAST(floor(exp(CAST(logsum_nano AS DOUBLE)
                                / 1000000000.0) * 1000000.0) AS BIGINT)
       END AS surv_ppm
FROM cum WHERE d > 0 ORDER BY duration_days
"""


# --------------------------------------------------------------------
# Holt linear (level + trend) exponential smoothing per event type
# --------------------------------------------------------------------

_HOLT_ALPHA = "0.5"
_HOLT_BETA = "0.3"


def q_events_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear exponential smoothing of daily event counts per
    type on the zero-filled calendar spine: l_t = a*y_t +
    (1-a)*(l_{t-1}+b_{t-1}), b_t = g*(l_t-l_{t-1}) + (1-g)*b_{t-1},
    initialized l_1 = y_1, b_1 = y_2 - y_1; emits final level/trend
    and the 7-day-ahead forecast (milli units).

    Scale: raw events collapse to the (type, day) spine immediately
    (bounded: days x types); the inherently-sequential recursion runs
    as an ``aggregate`` fold over the per-type day array — never over
    events.  The DuckDB twin is a recursive CTE evaluating the
    IDENTICAL literal arithmetic in the identical order, so the milli
    floors match bit-exactly."""
    from .warehouse2 import filled_day_spine

    filled = filled_day_spine(spark, sf_dir).select(
        "event_type", "day", F.col("cnt").cast("double").alias("y")
    )
    series = filled.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(day, y))),"
            " s -> s.y)"
        ).alias("ys")
    )
    a, g = _HOLT_ALPHA, _HOLT_BETA
    lnew = f"({a} * y + (1.0 - {a}) * (acc.l + acc.b))"
    fold = F.expr(
        f"""aggregate(
              slice(ys, 2, size(ys) - 1),
              named_struct('l', element_at(ys, 1),
                           'b', element_at(ys, 2) - element_at(ys, 1)),
              (acc, y) -> named_struct(
                 'l', {lnew},
                 'b', {g} * ({lnew} - acc.l) + (1.0 - {g}) * acc.b),
              acc -> acc)"""
    )
    return (
        series.filter(F.size("ys") >= 2)
        .withColumn("hb", fold)
        .select(
            "event_type",
            F.size("ys").cast("bigint").alias("n_days"),
            F.floor(F.col("hb.l") * 1000.0).cast("bigint").alias(
                "level_milli"
            ),
            F.floor(F.col("hb.b") * 1000.0).cast("bigint").alias(
                "trend_milli"
            ),
            F.floor((F.col("hb.l") + 7.0 * F.col("hb.b")) * 1000.0)
            .cast("bigint")
            .alias("forecast7_milli"),
        )
        .orderBy("event_type")
    )


def _holt_sql() -> str:
    from .warehouse2 import SQL_DAY_SPINE_CTE as spine_cte_

    a, g = _HOLT_ALPHA, _HOLT_BETA
    spine_cte = spine_cte_
    lnew = f"({a} * s.y + (1.0 - {a}) * (r.l + r.b))"
    return f"""
WITH RECURSIVE {spine_cte},
fidx AS (
  SELECT event_type, day, CAST(cnt AS DOUBLE) AS y,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY day) AS idx
  FROM filled
),
n AS (SELECT event_type, max(idx) AS n_days FROM fidx GROUP BY 1),
r AS (
  SELECT f1.event_type, 1 AS t, f1.y AS l, f2.y - f1.y AS b
  FROM fidx f1 JOIN fidx f2
    ON f2.event_type = f1.event_type AND f2.idx = 2
  WHERE f1.idx = 1
  UNION ALL
  SELECT r.event_type, r.t + 1,
         {lnew},
         {g} * ({lnew} - r.l) + (1.0 - {g}) * r.b
  FROM r JOIN fidx s
    ON s.event_type = r.event_type AND s.idx = r.t + 1
  WHERE r.t + 1 <= (SELECT n_days FROM n WHERE n.event_type = r.event_type)
)
SELECT r.event_type,
       CAST(n.n_days AS BIGINT) AS n_days,
       CAST(floor(r.l * 1000.0) AS BIGINT) AS level_milli,
       CAST(floor(r.b * 1000.0) AS BIGINT) AS trend_milli,
       CAST(floor((r.l + 7.0 * r.b) * 1000.0) AS BIGINT)
         AS forecast7_milli
FROM r JOIN n ON n.event_type = r.event_type AND r.t = n.n_days
WHERE n.n_days >= 2
ORDER BY r.event_type
"""


SQL_EVENTS_HOLT_LINEAR = _holt_sql()


# --------------------------------------------------------------------
# corpus-vocabulary OOV rate (tokenizer coverage)
# --------------------------------------------------------------------

_VOCAB_K = 500


def q_text_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary token rate per document against the corpus'
    own top-500 tokens by total frequency (ties broken by token).

    Scale: the vocabulary is one token-keyed aggregate + distributed
    TakeOrderedAndProject (never a global sort of the corpus); the
    per-doc scoring left-joins the exploded token stream against the
    BROADCAST vocabulary — the corpus side never shuffles for the
    join, and the final rollup partitions by doc_id.  The exploded
    stream feeds BOTH the vocab build and the scoring join, so it is
    persisted (released by bench/check_oracle) instead of tokenizing the corpus twice."""

    docs = (
        _t(spark, sf_dir, "documents").select(
            "doc_id",
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), "[^a-z]+"),
                    lambda x: x != F.lit(""),
                )
            ).alias("tok"),
        )
        .persist()
    )
    vocab = (
        docs.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(_VOCAB_K)
        .select("tok", F.lit(1).alias("in_vocab"))
    )
    return (
        docs.join(F.broadcast(vocab), "tok", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.expr("(n_oov * 1000000) DIV n_tokens").alias("oov_ppm"),
        )
        .orderBy("doc_id")
    )


SQL_TEXT_VOCAB_OOV = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text), '[a-z]+')) AS tok
  FROM documents
),
vocab AS (
  SELECT tok FROM toks GROUP BY 1
  ORDER BY count(*) DESC, tok LIMIT {_VOCAB_K}
),
scored AS (
  SELECT t.doc_id,
         count(*) AS n_tokens,
         sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
  GROUP BY 1
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_oov AS BIGINT) AS n_oov,
       CAST((n_oov * 1000000) // n_tokens AS BIGINT) AS oov_ppm
FROM scored ORDER BY doc_id
"""


# --------------------------------------------------------------------
# 2-hop reach (friends-of-friends neighborhood size)
# --------------------------------------------------------------------


def q_graph_reach_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node 2-hop reach on the co-purchase graph: the number of
    DISTINCT nodes exactly two hops away (reachable through a common
    neighbor, not directly connected, not self); top-50 by reach.

    Scale: reuses the SAME support-pruned persisted edge frame as
    triangle counting / link prediction (one builder, one cache);
    wedge enumeration is bounded by sum(deg^2) over the pruned graph;
    the top-k plans as TakeOrderedAndProject."""
    edges = _copurchase_edges(spark, sf_dir)
    und = edges.union(
        edges.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"))
    )
    w1 = und.alias("w1")
    w2 = und.alias("w2")
    two_hop = (
        w1.join(w2, F.col("w1.pb") == F.col("w2.pa"))
        .filter(F.col("w1.pa") != F.col("w2.pb"))
        .select(
            F.col("w1.pa").alias("x"), F.col("w2.pb").alias("y")
        )
        .distinct()
        .join(
            und.select(F.col("pa").alias("x"), F.col("pb").alias("y")),
            ["x", "y"],
            "left_anti",
        )
    )
    deg = und.groupBy(F.col("pa").alias("node")).agg(
        F.count(F.lit(1)).alias("degree")
    )
    return (
        two_hop.groupBy(F.col("x").alias("node"))
        .agg(F.count(F.lit(1)).alias("reach2"))
        .join(deg, "node")
        .select("node", "degree", "reach2")
        .orderBy(F.desc("reach2"), "node")
        .limit(50)
    )


SQL_GRAPH_REACH_2HOP = f"""
WITH {_SQL_EDGES_CTE},
und AS (
  SELECT pa, pb FROM edges
  UNION ALL
  SELECT pb AS pa, pa AS pb FROM edges
),
two_hop AS (
  SELECT DISTINCT w1.pa AS x, w2.pb AS y
  FROM und w1 JOIN und w2 ON w1.pb = w2.pa
  WHERE w1.pa <> w2.pb
),
open_hop AS (
  SELECT t.x, t.y FROM two_hop t
  ANTI JOIN und u ON u.pa = t.x AND u.pb = t.y
),
deg AS (SELECT pa AS node, count(*) AS degree FROM und GROUP BY 1)
SELECT o.x AS node, CAST(d.degree AS BIGINT) AS degree,
       CAST(count(*) AS BIGINT) AS reach2
FROM open_hop o JOIN deg d ON d.node = o.x
GROUP BY 1, 2
ORDER BY reach2 DESC, node LIMIT 50
"""


QUERIES: dict[str, QuerySpec] = {
    "orders_survival_km": QuerySpec(
        q_orders_survival_km, SQL_ORDERS_SURVIVAL_KM
    ),
    "events_holt_linear": QuerySpec(
        q_events_holt_linear, SQL_EVENTS_HOLT_LINEAR
    ),
    "text_vocab_oov": QuerySpec(q_text_vocab_oov, SQL_TEXT_VOCAB_OOV),
    "graph_reach_2hop": QuerySpec(q_graph_reach_2hop, SQL_GRAPH_REACH_2HOP),
}
