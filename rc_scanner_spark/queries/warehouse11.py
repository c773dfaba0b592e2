"""Round-6 batch 19: bipartite HITS scoring, filter rejection
funnels, and local peak detection.

Why these belong in a 100 TB training-data engine:

* ``graph_hits_bipartite`` — two synchronous HITS rounds over the
  order-part bipartite graph rank "authority" parts the way the
  original algorithm ranked pages: a part is authoritative when big
  hub baskets carry it, a basket is a hub when it carries
  authoritative parts.  Kept UNNORMALIZED so every score is an exact
  integer aggregate (normalizing divides by float sums whose
  accumulation order differs across engines); two rounds = two
  joins + two grouped aggregates over the capped basket frame.
* ``filter_rejection_funnel`` — every production corpus filter
  reports WHY documents die: the first-failing-rule attribution
  (too short -> wrong language -> exact duplicate -> pass) per
  source.  Rules evaluate map-side; the duplicate rule is one
  hash-partitioned keep-first window; the report is one grouped
  count.
* ``events_local_peaks`` — strict local maxima on the zero-filled
  daily series (count above both calendar neighbors) is the basic
  burst detector behind incident review.  lag/lead windows partition
  by event type over the bounded day spine.

Engine-parity notes: all three are integer/string ops end-to-end —
no float surface; dup keep-first ties break on doc_id; the HITS
sums ride decimal(38,0)/HUGEINT (a2 <= baskets * cap^2 per part
needs the headroom at design scale) and are emitted as bigint (the
cast throws loudly past 2^63 rather than wrapping).

Reference scope note: the reference engine (scanner.py:120-175) has
no analytics surface; these extend SURVEY.md §2.B's graph / filter /
warehouse categories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import QuerySpec, load_tuned
from .warehouse import basket_cte_sql, capped_baskets
from .warehouse2 import SQL_DAY_SPINE_CTE

_t = load_tuned


# --------------------------------------------------------------------
# bipartite HITS (2 synchronous rounds, integer-exact)
# --------------------------------------------------------------------

_HITS_MAX_ORDER = 20
_HITS_TOPK = 20


def q_graph_hits_bipartite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-round HITS over the order-part bipartite graph (capped
    baskets): a1(part) = basket count; h1(order) = sum of a1 over its
    parts; a2(part) = sum of h1 over its baskets; top-20 parts by a2.

    Scale: both rounds are equi-joins + grouped sums on the capped
    basket frame (shared builder with the market-basket family);
    integer-exact (no normalization -> no float accumulation-order
    surface); top-k plans as TakeOrderedAndProject."""

    _li, li2 = capped_baskets(spark, sf_dir, _HITS_MAX_ORDER)
    # li2 feeds three consumers (a1 scan, h1 join, a2 join) — persist
    # (released by bench/check_oracle) instead of rebuilding
    # the distinct+cap frame three times
    li2 = li2.persist()
    a1 = li2.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("a1"))
    h1 = (
        li2.join(a1, "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("a1").cast("decimal(38,0)")).alias("h1"))
    )
    a2 = (
        li2.join(h1, "l_orderkey")
        .groupBy("l_partkey")
        .agg(F.sum("h1").alias("a2"))
    )
    return (
        a2.join(a1, "l_partkey")
        .select(
            "l_partkey",
            "a1",
            F.col("a2").cast("bigint").alias("a2"),
        )
        .orderBy(F.desc("a2"), "l_partkey")
        .limit(_HITS_TOPK)
    )


SQL_GRAPH_HITS_BIPARTITE = f"""
WITH {basket_cte_sql(_HITS_MAX_ORDER)},
a1 AS (SELECT l_partkey, count(*) AS a1 FROM li2 GROUP BY 1),
h1 AS (
  SELECT li2.l_orderkey, sum(CAST(a1.a1 AS HUGEINT)) AS h1
  FROM li2 JOIN a1 USING (l_partkey) GROUP BY 1
),
a2 AS (
  SELECT li2.l_partkey, sum(h1.h1) AS a2
  FROM li2 JOIN h1 USING (l_orderkey) GROUP BY 1
)
SELECT a2.l_partkey, CAST(a1.a1 AS BIGINT) AS a1,
       CAST(a2.a2 AS BIGINT) AS a2
FROM a2 JOIN a1 USING (l_partkey)
ORDER BY a2 DESC, l_partkey LIMIT {_HITS_TOPK}
"""


# --------------------------------------------------------------------
# filter rejection funnel (first-failing-rule attribution)
# --------------------------------------------------------------------

_FUNNEL_MIN_CHARS = 100
_FUNNEL_LANGS = ("en", "de", "fr", "es")


def q_filter_rejection_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source rejection funnel with first-failing-rule
    attribution, in pipeline order: (1) too_short (< 100 chars),
    (2) non_target_lang, (3) exact_dup (same text, keep the lowest
    doc_id), else pass.  A document counts against exactly ONE rule —
    the funnel sums to the corpus.

    Scale: rules 1-2 are map-side; the dup rule is one keep-first
    window PARTITIONED by the text hash, ranking only SURVIVORS of
    the earlier rules (the dedup stage of a real pipeline never sees
    docs the length/language gates already dropped — a short doc
    must not claim a dup group's keep slot); the report is one
    grouped count over (source, rule)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars", F.md5("text").alias("th")
    )
    # when/otherwise (not a bool cast): NULL lang must count as a
    # NON-survivor 0, not a NULL the window sum would skip silently
    surv = F.when(
        (F.col("n_chars") >= _FUNNEL_MIN_CHARS)
        & F.col("lang").isin(*_FUNNEL_LANGS),
        1,
    ).otherwise(0)
    wdup = Window.partitionBy("th").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    flagged = docs.withColumn("surv", surv).withColumn(
        "surv_rank", F.sum("surv").over(wdup)
    )
    rule = (
        F.when(F.col("n_chars") < _FUNNEL_MIN_CHARS, "1_too_short")
        # NULL lang must FAIL the language gate: a bare NOT IN yields
        # NULL (not true) and would let the doc fall through to pass
        # (review-round fix, r6)
        .when(
            F.col("lang").isNull()
            | ~F.col("lang").isin(*_FUNNEL_LANGS),
            "2_non_target_lang",
        )
        .when(F.col("surv_rank") > 1, "3_exact_dup")
        .otherwise("4_pass")
    )
    return (
        flagged.select("source", rule.alias("rule"))
        .groupBy("source", "rule")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "rule")
    )


_langs_sql = ", ".join(f"'{lang}'" for lang in _FUNNEL_LANGS)

SQL_FILTER_REJECTION_FUNNEL = f"""
WITH flagged AS (
  SELECT doc_id, source, lang, n_chars,
         sum(CASE WHEN n_chars >= {_FUNNEL_MIN_CHARS}
                       AND lang IN ({_langs_sql})
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY md5(text) ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS surv_rank
  FROM documents
)
SELECT source,
       CASE WHEN n_chars < {_FUNNEL_MIN_CHARS} THEN '1_too_short'
            WHEN lang IS NULL OR lang NOT IN ({_langs_sql})
              THEN '2_non_target_lang'
            WHEN surv_rank > 1 THEN '3_exact_dup'
            ELSE '4_pass' END AS rule,
       CAST(count(*) AS BIGINT) AS n_docs
FROM flagged GROUP BY 1, 2 ORDER BY source, rule
"""


# --------------------------------------------------------------------
# strict local peaks on the daily series
# --------------------------------------------------------------------


def q_events_local_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict local maxima of daily event counts per type on the
    zero-filled calendar spine: days whose count exceeds BOTH
    calendar neighbors (spine edges never qualify — they have only
    one neighbor).

    Scale: events collapse to the bounded (type, day) spine first;
    lag/lead windows partition by event type."""
    from .warehouse2 import filled_day_spine

    filled = filled_day_spine(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("day")
    peaks = (
        filled.withColumn("prev", F.lag("cnt").over(w))
        .withColumn("nxt", F.lead("cnt").over(w))
        .filter(
            F.col("prev").isNotNull()
            & F.col("nxt").isNotNull()
            & (F.col("cnt") > F.col("prev"))
            & (F.col("cnt") > F.col("nxt"))
        )
    )
    return peaks.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "cnt",
    ).orderBy("event_type", "day")


SQL_EVENTS_LOCAL_PEAKS = "WITH " + SQL_DAY_SPINE_CTE + """,
lagged AS (
  SELECT event_type, day, cnt,
         lag(cnt) OVER w AS prev, lead(cnt) OVER w AS nxt
  FROM filled
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       CAST(cnt AS BIGINT) AS cnt
FROM lagged
WHERE prev IS NOT NULL AND nxt IS NOT NULL
  AND cnt > prev AND cnt > nxt
ORDER BY event_type, day
"""


QUERIES: dict[str, QuerySpec] = {
    "graph_hits_bipartite": QuerySpec(
        q_graph_hits_bipartite, SQL_GRAPH_HITS_BIPARTITE
    ),
    "filter_rejection_funnel": QuerySpec(
        q_filter_rejection_funnel, SQL_FILTER_REJECTION_FUNNEL
    ),
    "events_local_peaks": QuerySpec(
        q_events_local_peaks, SQL_EVENTS_LOCAL_PEAKS
    ),
}
