"""Round-8 batches 37-38: the four remaining TPC-H query shapes
(Q2/Q11/Q20/Q21) and the Mann-Kendall trend test.

Why these belong in a 100 TB engine:

* ``tpch_q2ish`` — Q2's "min-cost supplier per part" is THE
  correlated-min shape: a per-key minimum computed once as an
  aggregate and equi-joined back, never re-executed per outer row.
  With no partsupp table the part-supplier cost relation derives from
  lineitem (the q16ish convention): unit cost = shipped value / shipped
  quantity per (part, supplier), restricted to one region's suppliers.
* ``tpch_q11ish`` — Q11's "important inventory" is the
  global-scalar-threshold shape: per-part value filtered against a
  fraction of the corpus total (one 1-row broadcast, pinned in the
  plan audit).  Integer-cents value keeps the threshold comparison
  exact — a float share at the boundary is engine-divergent.
* ``tpch_q20ish`` — Q20's "excess inventory" double semi-join chain:
  parts by name prefix -> (supplier, part) shipment aggregate with a
  recency-concentration HAVING -> supplier semi-join.  All integer
  quantity sums.
* ``tpch_q21ish`` — Q21's "sole late supplier" EXISTS / NOT-EXISTS
  pair, decorrelated into ONE per-order aggregate (distinct suppliers,
  distinct slow suppliers, the slow supplier's key when unique) — the
  only shape that survives at scale; nested-loop exists re-execution
  per lineitem row is quadratic.  "Slow" derives from the columns the
  data has: shipped more than 90 days after the order date.
* ``stats_mann_kendall`` — the standard nonparametric trend test
  (Mann 1945, Kendall 1975) per event type over the zero-filled daily
  spine: S statistic from all day pairs, tie-corrected variance, z
  score and tau-b.  The all-pairs self-join runs on the BOUNDED
  (types x days) spine aggregate — never on raw events — so its cost
  is calendar-bounded at any corpus size.

Engine parity: money flows as integer cents (floor(x*100+0.5)), unit
costs as truncating integer division (Spark DIV == DuckDB //, both
toward zero), quantities as integer units; Mann-Kendall's only float
surface is one scalar chain per group evaluated in the identical
literal order on both engines from identical integer aggregates
(bit-identical; docs/PARITY.md trap #26 rationale), with NULL guards
on the all-tied degenerate (variance 0) mirrored as CASE on both
sides — Spark ANSI double/0.0 throws, DuckDB infinity-casts.

Reference scope: the reference engine (scanner.py:120-175) has no
relational surface; these close SURVEY.md §2.B's "TPC-H shapes" row
(18 -> 22) and extend the stats toolkit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import QuerySpec, load_tuned

_t = load_tuned

# money -> exact integer cents (the repo-wide idiom: identical double
# multiply + floor on both engines)
_CENTS = "CAST(floor({c} * 100 + 0.5) AS BIGINT)"


def _cents(col: str) -> F.Column:
    return F.floor(F.col(col) * 100 + F.lit(0.5)).cast("long")


# --------------------------------------------------------------------
# Q2: min-cost supplier per part (region-restricted)
# --------------------------------------------------------------------

_Q2_REGION = "EUROPE"
_Q2_PTYPE = "ECONOMY"
_Q2_TOPK = 100


def q_tpch_q2ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (no partsupp: the cost relation derives from
    lineitem): for ECONOMY parts, the EUROPE supplier(s) with the
    minimum shipped unit cost (milli-cents, truncating integer
    division), ties kept, top 100 by account balance.

    Scale: the fact scan semi-joins to the FILTERED part keys first
    (the q17ish rule — the per-part min is within-group, so
    pre-filtering is value-identical but shrinks the pair aggregate,
    the min aggregate and the join by the p_type selectivity); the
    region dim chain (supplier x nation x region) is a broadcast with
    acctbal pre-converted to cents once per supplier, not per fact
    row; the correlated min decorrelates into a per-part aggregate
    equi-joined back (never re-executed per row); the top-k plans as
    TakeOrderedAndProject.  Cost sums ride decimal(38,0) — cents x
    rows-per-pair passes 2^63 at design scale."""
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == _Q2_REGION)
    eu = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select(
            "s_suppkey",
            "s_name",
            "n_name",
            _cents("s_acctbal").alias("ac"),
        )
    )
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == _Q2_PTYPE)
    li = (
        _t(spark, sf_dir, "lineitem")
        .select(
            "l_partkey",
            "l_suppkey",
            _cents("l_extendedprice").alias("pc"),
            F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("qu"),
        )
        .join(
            F.broadcast(part.select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
    )
    ps = (
        li.join(F.broadcast(eu), li.l_suppkey == eu.s_suppkey)
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.col("pc").cast("decimal(38,0)")).alias("sc"),
            F.sum(F.col("qu").cast("decimal(38,0)")).alias("sq"),
            F.min("s_name").alias("s_name"),
            F.min("n_name").alias("n_name"),
            F.min("ac").alias("acctbal_cents"),
        )
        # quantities are >= 1 per line, so sq >= 1: DIV cannot hit 0
        .withColumn("cost_milli", F.expr("(sc * 1000) DIV sq"))
    )
    mn = ps.groupBy("l_partkey").agg(F.min("cost_milli").alias("mc"))
    return (
        ps.join(mn, ["l_partkey"])
        .filter(F.col("cost_milli") == F.col("mc"))
        .join(F.broadcast(part), ps.l_partkey == part.p_partkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_brand",
            "s_name",
            "n_name",
            "acctbal_cents",
            "cost_milli",
        )
        .orderBy(F.desc("acctbal_cents"), "p_partkey", "s_name")
        .limit(_Q2_TOPK)
    )


SQL_TPCH_Q2ISH = f"""
WITH eu AS (
  SELECT s_suppkey, s_name, n_name,
         {_CENTS.format(c='s_acctbal')} AS ac
  FROM supplier JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = '{_Q2_REGION}'
),
rp AS (SELECT p_partkey FROM part WHERE p_type = '{_Q2_PTYPE}'),
ps AS (
  SELECT l_partkey, l_suppkey,
         min(s_name) AS s_name, min(n_name) AS n_name,
         min(ac) AS acctbal_cents,
         CAST(sum(CAST({_CENTS.format(c='l_extendedprice')} AS HUGEINT))
              * 1000
              // sum(CAST(floor(l_quantity + 0.5) AS HUGEINT))
              AS BIGINT) AS cost_milli
  FROM lineitem SEMI JOIN rp ON l_partkey = p_partkey
  JOIN eu ON l_suppkey = s_suppkey
  GROUP BY 1, 2
),
mn AS (SELECT l_partkey, min(cost_milli) AS mc FROM ps GROUP BY 1)
SELECT ps.l_partkey AS p_partkey, p_brand, s_name, n_name,
       acctbal_cents, cost_milli
FROM ps JOIN mn ON ps.l_partkey = mn.l_partkey AND cost_milli = mc
JOIN part ON ps.l_partkey = p_partkey
WHERE p_type = '{_Q2_PTYPE}'
ORDER BY acctbal_cents DESC, p_partkey, s_name
LIMIT {_Q2_TOPK}
"""


# --------------------------------------------------------------------
# Q11: important parts by shipped value share (single nation)
# --------------------------------------------------------------------

_Q11_NATION = "NATION_7"
_Q11_MULT = 2  # keep parts whose value > MULT x the average part value


def q_tpch_q11ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part shipped value (integer cents) over
    one nation's suppliers, keeping parts whose value exceeds twice
    the average part value — the HAVING-against-a-global-scalar
    shape.  val * n_parts > 2 * total is the exact-integer form of
    share > 2/n_parts (no float boundary).

    Scale: the nation-supplier dim broadcasts into the fact scan; the
    per-part aggregate is one hash shuffle; the (total, n_parts)
    scalar is a 1-row broadcast cross join (pinned in the plan
    audit); value sums ride decimal(38,0)/HUGEINT."""
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == _Q11_NATION)
    ns = sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey).select(
        "s_suppkey"
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", _cents("l_extendedprice").alias("pc")
    )
    v = (
        li.join(F.broadcast(ns), li.l_suppkey == ns.s_suppkey)
        .groupBy("l_partkey")
        .agg(F.sum(F.col("pc").cast("decimal(38,0)")).alias("val"))
    )
    tot = v.agg(
        F.sum("val").alias("tot"), F.count(F.lit(1)).alias("np")
    )
    return (
        v.crossJoin(F.broadcast(tot))
        .filter(
            F.col("val") * F.col("np")
            > F.lit(_Q11_MULT) * F.col("tot")
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("val").cast("bigint").alias("value_cents"),
        )
        .orderBy(F.desc("value_cents"), "p_partkey")
    )


SQL_TPCH_Q11ISH = f"""
WITH ns AS (
  SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = '{_Q11_NATION}'
),
v AS (
  SELECT l_partkey,
         sum(CAST({_CENTS.format(c='l_extendedprice')} AS HUGEINT)) AS val
  FROM lineitem JOIN ns ON l_suppkey = s_suppkey
  GROUP BY 1
),
t AS (SELECT sum(val) AS tot, count(*) AS np FROM v)
SELECT l_partkey AS p_partkey, CAST(val AS BIGINT) AS value_cents
FROM v, t
WHERE val * np > {_Q11_MULT} * tot
ORDER BY value_cents DESC, p_partkey
"""


# --------------------------------------------------------------------
# Q20: suppliers with recency-concentrated shipments of named parts
# --------------------------------------------------------------------

_Q20_PREFIX = "red "
_Q20_RECENT = "2001-01-01"
_Q20_FLOOR = 50  # minimum lifetime units for a pair to qualify


def q_tpch_q20ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (availqty derives from shipment history):
    suppliers having at least one 'red ' part whose shipments
    concentrate in the recent window — recent units > 2/3 of lifetime
    units, with a 50-unit lifetime floor so tiny pairs don't qualify
    on noise.  Pure integer comparison (3*recent > 2*all).

    Scale: the name-prefix part filter is a broadcast semi-join
    pushed below the pair aggregate; the (supplier, part) aggregate
    is one hash shuffle; the qualifying-supplier set semi-joins the
    supplier dim.  Unit sums stay BIGINT: 50 units/line x 1e13 lines
    on ONE pair is 5e14 << 2^63."""
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_name").startswith(_Q20_PREFIX)
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        "l_shipdate",
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("qu"),
    )
    q = (
        li.join(
            F.broadcast(part.select("p_partkey")),
            li.l_partkey == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(
                F.when(F.col("l_shipdate") >= _Q20_RECENT, F.col("qu")).otherwise(
                    F.lit(0)
                )
            ).alias("q_recent"),
            F.sum("qu").alias("q_all"),
        )
        .filter(
            (F.col("q_all") >= _Q20_FLOOR)
            & (3 * F.col("q_recent") > 2 * F.col("q_all"))
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_hot_parts"))
    )
    sup = _t(spark, sf_dir, "supplier")
    return (
        sup.join(q, sup.s_suppkey == q.l_suppkey)
        .select("s_suppkey", "s_name", "n_hot_parts")
        .orderBy("s_suppkey")
    )


SQL_TPCH_Q20ISH = f"""
WITH rp AS (SELECT p_partkey FROM part WHERE p_name LIKE '{_Q20_PREFIX}%'),
q AS (
  SELECT l_suppkey, l_partkey,
         sum(CASE WHEN l_shipdate >= TIMESTAMP '{_Q20_RECENT}'
                  THEN CAST(floor(l_quantity + 0.5) AS BIGINT)
                  ELSE 0 END) AS q_recent,
         sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS q_all
  FROM lineitem SEMI JOIN rp ON l_partkey = p_partkey
  GROUP BY 1, 2
),
hot AS (
  SELECT l_suppkey, count(*) AS n_hot_parts
  FROM q
  WHERE q_all >= {_Q20_FLOOR} AND 3 * q_recent > 2 * q_all
  GROUP BY 1
)
SELECT s_suppkey, s_name, n_hot_parts
FROM supplier JOIN hot ON s_suppkey = l_suppkey
ORDER BY s_suppkey
"""


# --------------------------------------------------------------------
# Q21: the sole slow supplier on multi-supplier orders
# --------------------------------------------------------------------

_Q21_REGION = "ASIA"
_Q21_LATE_DAYS = 90
_Q21_TOPK = 20


def q_tpch_q21ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: count, per ASIA supplier, the multi-supplier
    orders on which it was the ONLY slow supplier (shipped > 90 days
    after the order date).  The EXISTS ("another supplier on the
    order") / NOT-EXISTS ("no other slow supplier") pair decorrelates
    into ONE per-order aggregate: distinct suppliers, distinct slow
    suppliers, and the slow supplier's key when exactly one — exact
    integer/date logic end-to-end.

    Scale: one fact-fact equi-join (lineitem x orders on the order
    key — co-partitioned at scale by bucketing both on orderkey),
    then a per-(order, supplier) max(slow) pre-aggregate (map-side
    partial agg dedups) so the per-order rollup is a plain
    count/sum/min with NO distinct aggregates — two countDistincts
    with different children would plan an Expand that triples the
    rows through the largest shuffle; the region dim chain
    broadcasts; top-k plans as TakeOrderedAndProject with a full
    deterministic tiebreak."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    slow = F.when(
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr(f"INTERVAL {_Q21_LATE_DAYS} DAYS"),
        1,
    ).otherwise(0)
    per_supp = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(slow).alias("slow"))
    )
    oa = (
        per_supp.groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("nsupp"),
            F.sum("slow").alias("nslow"),
            F.min(
                F.when(F.col("slow") == 1, F.col("l_suppkey"))
            ).alias("slow_supp"),
        )
        .filter((F.col("nsupp") >= 2) & (F.col("nslow") == 1))
        .groupBy("slow_supp")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region").filter(F.col("r_name") == _Q21_REGION)
    sd = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .select("s_suppkey", "s_name", "n_name")
    )
    return (
        oa.join(sd, oa.slow_supp == sd.s_suppkey)
        .select("s_suppkey", "s_name", "n_name", "numwait")
        .orderBy(F.desc("numwait"), "s_suppkey")
        .limit(_Q21_TOPK)
    )


SQL_TPCH_Q21ISH = f"""
WITH per_supp AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_shipdate >
                 o_orderdate + INTERVAL {_Q21_LATE_DAYS} DAY
               THEN 1 ELSE 0 END) AS slow
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
oa AS (
  SELECT l_orderkey,
         count(*) AS nsupp,
         sum(slow) AS nslow,
         min(CASE WHEN slow = 1 THEN l_suppkey END) AS slow_supp
  FROM per_supp
  GROUP BY 1
),
w AS (
  SELECT slow_supp, count(*) AS numwait
  FROM oa WHERE nsupp >= 2 AND nslow = 1
  GROUP BY 1
)
SELECT s_suppkey, s_name, n_name, numwait
FROM w JOIN supplier ON slow_supp = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{_Q21_REGION}'
ORDER BY numwait DESC, s_suppkey
LIMIT {_Q21_TOPK}
"""


# --------------------------------------------------------------------
# Mann-Kendall trend test per event type (batch 38)
# --------------------------------------------------------------------


def q_stats_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test per event type on the
    zero-filled daily-count spine: S = sum over day pairs of
    sign(later - earlier), tie-corrected variance
    (n(n-1)(2n+5) - sum t(t-1)(2t+5)) / 18, continuity-corrected z,
    and tau-b (days are distinct so only the count dimension ties).
    All-tied series (variance 0) emit NULL z/tau on both engines —
    under ANSI Spark double/0.0 throws and DuckDB infinity-casts.

    Scale: raw events collapse to the bounded (types x days) spine
    before the all-pairs self-join, so pair count is calendar-bounded
    (O(days^2) per type) at any corpus size; S, n and the tie sums
    are exact integer aggregates; the z/tau floats are one scalar
    chain per group evaluated in the identical literal order on both
    engines (bit-identical).  The spine frame feeds four consumers —
    persisted (released by release_caches)."""
    from .warehouse2 import filled_day_spine

    filled = (
        filled_day_spine(spark, sf_dir).select(
            "event_type", "day", F.col("cnt").cast("long").alias("cnt")
        )
        .persist()
    )
    a = filled.select(
        "event_type", F.col("day").alias("da"), F.col("cnt").alias("ca")
    )
    b = filled.select(
        "event_type", F.col("day").alias("db"), F.col("cnt").alias("cb")
    )
    pairs = (
        a.join(b, ["event_type"])
        .filter(F.col("db") > F.col("da"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("cb") > F.col("ca"), 1)
                .when(F.col("cb") < F.col("ca"), -1)
                .otherwise(0)
            ).alias("s_stat")
        )
    )
    n = filled.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    ties = (
        filled.groupBy("event_type", "cnt")
        .agg(F.count(F.lit(1)).alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tsum"),
            F.sum(F.col("t") * (F.col("t") - 1)).alias("tpair"),
        )
    )
    j = pairs.join(n, ["event_type"]).join(ties, ["event_type"])
    nn = F.col("n_days")
    var = (
        (nn * (nn - 1) * (2 * nn + 5) - F.col("tsum")).cast("double")
        / F.lit(18.0)
    )
    s = F.col("s_stat")
    z = (
        F.when(s > 0, (s - 1).cast("double") / F.sqrt(var))
        .when(s < 0, (s + 1).cast("double") / F.sqrt(var))
        .otherwise(F.lit(0.0))
    )
    d0 = F.expr("(n_days * (n_days - 1)) DIV 2")
    dy = d0 - F.expr("tpair DIV 2")
    tau = s.cast("double") / F.sqrt(d0.cast("double") * dy.cast("double"))
    return j.select(
        "event_type",
        "n_days",
        F.col("s_stat").cast("bigint").alias("s_stat"),
        F.when(var > 0, F.floor(z * 1000).cast("bigint"))
        .otherwise(F.lit(None).cast("bigint"))
        .alias("z_milli"),
        F.when(dy > 0, F.floor(tau * 1000).cast("bigint"))
        .otherwise(F.lit(None).cast("bigint"))
        .alias("tau_milli"),
    ).orderBy("event_type")


def _mann_kendall_sql() -> str:
    from .warehouse2 import SQL_DAY_SPINE_CTE

    return f"""
WITH {SQL_DAY_SPINE_CTE},
pairs AS (
  SELECT a.event_type,
         sum(CASE WHEN b.cnt > a.cnt THEN 1
                  WHEN b.cnt < a.cnt THEN -1 ELSE 0 END) AS s_stat
  FROM filled a JOIN filled b
    ON a.event_type = b.event_type AND b.day > a.day
  GROUP BY 1
),
n AS (SELECT event_type, count(*) AS n_days FROM filled GROUP BY 1),
ties AS (
  SELECT event_type,
         sum(t * (t - 1) * (2 * t + 5)) AS tsum,
         sum(t * (t - 1)) AS tpair
  FROM (SELECT event_type, cnt, count(*) AS t FROM filled GROUP BY 1, 2)
  GROUP BY 1
)
SELECT p.event_type,
       CAST(n.n_days AS BIGINT) AS n_days,
       CAST(p.s_stat AS BIGINT) AS s_stat,
       CASE WHEN CAST(n_days * (n_days - 1) * (2 * n_days + 5) - tsum
                      AS DOUBLE) / 18.0 > 0
            THEN CAST(floor(
              (CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
                    WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
                    ELSE 0.0 END
               / CASE WHEN s_stat = 0 THEN 1.0 ELSE
                   sqrt(CAST(n_days * (n_days - 1) * (2 * n_days + 5)
                             - tsum AS DOUBLE) / 18.0) END) * 1000)
              AS BIGINT)
            ELSE NULL END AS z_milli,
       CASE WHEN (n_days * (n_days - 1)) // 2 - tpair // 2 > 0
            THEN CAST(floor(
              CAST(s_stat AS DOUBLE)
              / sqrt(CAST((n_days * (n_days - 1)) // 2 AS DOUBLE)
                     * CAST((n_days * (n_days - 1)) // 2 - tpair // 2
                            AS DOUBLE)) * 1000) AS BIGINT)
            ELSE NULL END AS tau_milli
FROM pairs p JOIN n USING (event_type) JOIN ties USING (event_type)
ORDER BY p.event_type
"""


QUERIES: dict[str, QuerySpec] = {
    "tpch_q2ish": QuerySpec(q_tpch_q2ish, SQL_TPCH_Q2ISH),
    "tpch_q11ish": QuerySpec(q_tpch_q11ish, SQL_TPCH_Q11ISH),
    "tpch_q20ish": QuerySpec(q_tpch_q20ish, SQL_TPCH_Q20ISH),
    "tpch_q21ish": QuerySpec(q_tpch_q21ish, SQL_TPCH_Q21ISH),
    "stats_mann_kendall": QuerySpec(
        q_stats_mann_kendall, _mann_kendall_sql()
    ),
}
