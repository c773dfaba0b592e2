"""Round-13 batch 53: inventory/accounting joins, robust rolling
outliers, attribution, and distributional readouts.

* ``orders_fifo_allocation`` — FIFO matching of returned quantity
  against receipts per part, expressed as an INTERVAL-OVERLAP join on
  the cumulative-quantity line (the classic distributed formulation of
  first-in-first-out cost accounting: matched pairs are provably
  <= n_receipts + n_returns, so the join output stays linear).
* ``window_hampel_outliers`` — trailing-7-day Hampel filter (median
  +- 3 * 1.4826 * MAD) over daily revenue per event type, entirely on
  doubled/quadrupled integer grids so no float ever appears.
* ``events_attribution_credit`` — U-shaped (position-based)
  multi-touch attribution: 40/20/40 credit in exact integer ppm with
  a documented deterministic remainder rule.
* ``text_lorenz_curve`` — the Lorenz curve of character mass over
  documents per source at a fixed decile grid (the inequality curve
  whose area doubles into the existing ``agg_gini``).
* ``text_simpson_diversity`` — Simpson's concentration/diversity
  index of the token distribution per source, pure integer
  numerator/denominator on the decimal rail.
* ``events_best_split_sse`` — changepoint LOCALIZATION: the single
  day split of each type's daily-count series minimizing total
  within-segment SSE (binary-segmentation step 1; complements the
  detection-only ``events_changepoint_cusum``).
* ``events_type_user_jaccard`` — Jaccard overlap of user bases
  between event-type pairs (audience-overlap matrix, bounded by the
  type-pair grid).
* ``stats_psi_drift`` (batch 54) — Population Stability Index of the
  value distribution between the epoch halves per type: the
  scorecard-industry drift metric joining the KS/CvM family.

Reference scope note: the reference engine (scanner.py:120-175) has
no analytics surface; extends SURVEY.md §2.B's join/window/aggregation
rows and the LLM-pipeline battery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.text import words
from . import QuerySpec, load_tuned
from .warehouse28 import _US_PER_DAY

_t = load_tuned


# --------------------------------------------------------------------
# FIFO allocation (interval-overlap join on the cumulative line)
# --------------------------------------------------------------------


def q_orders_fifo_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO allocation of returns against receipts per part: lay each
    part's receipts ('N' lines) and returns ('R' lines) on their own
    cumulative-quantity lines in ship order, then a return matches the
    receipts whose cumulative interval overlaps its own — exactly the
    first-in-first-out ledger, with matched quantity = interval
    overlap length.  Ship-order ties break by (l_orderkey,
    l_linenumber).

    Scale: two per-part cumulative windows + ONE equi-join on
    l_partkey with interval predicates.  The pair count is bounded by
    n_receipts + n_returns per part (each matched pair consumes at
    least one interval boundary), so output volume is LINEAR in the
    fact table at any scale — never quadratic."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_shipdate",
        F.floor(F.col("l_quantity") + 0.5).cast("long").alias("qty"),
    )

    def cumline(flag: str, pfx: str) -> DataFrame:
        w = (
            Window.partitionBy("l_partkey")
            .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return li.filter(F.col("l_returnflag") == flag).select(
            "l_partkey",
            F.col("l_orderkey").alias(f"{pfx}_orderkey"),
            F.col("l_linenumber").alias(f"{pfx}_linenumber"),
            F.col("qty").alias(f"{pfx}_qty"),
            F.sum("qty").over(w).alias(f"{pfx}_cum"),
        )

    rcv = cumline("N", "rcv")
    ret = cumline("R", "ret")
    j = rcv.join(ret, "l_partkey").filter(
        (F.col("rcv_cum") - F.col("rcv_qty") < F.col("ret_cum"))
        & (F.col("ret_cum") - F.col("ret_qty") < F.col("rcv_cum"))
    )
    matched = F.least(F.col("rcv_cum"), F.col("ret_cum")) - F.greatest(
        F.col("rcv_cum") - F.col("rcv_qty"),
        F.col("ret_cum") - F.col("ret_qty"),
    )
    return (
        j.select(
            "l_partkey",
            "ret_orderkey",
            "ret_linenumber",
            "rcv_orderkey",
            "rcv_linenumber",
            matched.cast("long").alias("matched_qty"),
        )
        .orderBy(
            "l_partkey",
            "ret_orderkey",
            "ret_linenumber",
            "rcv_orderkey",
            "rcv_linenumber",
        )
    )


SQL_ORDERS_FIFO_ALLOCATION = """
WITH li AS (
  SELECT l_partkey, l_orderkey, l_linenumber, l_returnflag, l_shipdate,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty
  FROM lineitem
),
rcv AS (
  SELECT l_partkey, l_orderkey AS rcv_orderkey,
         l_linenumber AS rcv_linenumber, qty AS rcv_qty,
         sum(qty) OVER (
           PARTITION BY l_partkey
           ORDER BY l_shipdate, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rcv_cum
  FROM li WHERE l_returnflag = 'N'
),
ret AS (
  SELECT l_partkey, l_orderkey AS ret_orderkey,
         l_linenumber AS ret_linenumber, qty AS ret_qty,
         sum(qty) OVER (
           PARTITION BY l_partkey
           ORDER BY l_shipdate, l_orderkey, l_linenumber
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ret_cum
  FROM li WHERE l_returnflag = 'R'
)
SELECT r.l_partkey, t.ret_orderkey, t.ret_linenumber,
       r.rcv_orderkey, r.rcv_linenumber,
       CAST(least(r.rcv_cum, t.ret_cum)
            - greatest(r.rcv_cum - r.rcv_qty, t.ret_cum - t.ret_qty)
            AS BIGINT) AS matched_qty
FROM rcv r JOIN ret t
  ON t.l_partkey = r.l_partkey
 AND r.rcv_cum - r.rcv_qty < t.ret_cum
 AND t.ret_cum - t.ret_qty < r.rcv_cum
ORDER BY r.l_partkey, t.ret_orderkey, t.ret_linenumber,
         r.rcv_orderkey, r.rcv_linenumber
"""


# --------------------------------------------------------------------
# Hampel rolling outliers
# --------------------------------------------------------------------

# 2 * 3 * 1.4826 scaled to an integer comparison: dev_x2 > 2.2239 *
# mad_x2  <=>  dev_x2 * 10000 > mad_x2 * 22239
_HAMPEL_NUM = 22239
_HAMPEL_DEN = 10000
_HAMPEL_MIN_N = 5


def q_window_hampel_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter over daily revenue per event type: a day is an
    outlier when |x - med| > 3 * 1.4826 * MAD of its trailing
    7-observed-day window (med/MAD = the window_rolling_median
    machinery).  Everything stays on integer grids: med_x2 = the sum
    of the two central values (= 2 * median exactly), deviations
    dev_x2 = |2x - med_x2| (= 2|x - med|), mad_x2 = the same two-
    central-sum over the deviation list (= 4 * MAD), and the flag is
    the integer cross-multiplication dev_x2 * 10000 > mad_x2 * 22239
    (22239/10000 = 2 * 3 * 1.4826 / 2).  Windows shorter than 5 days
    never flag (MAD is not stable); a zero MAD flags any nonzero
    deviation (the standard Hampel degeneracy).

    Scale: windows partitioned by event type over the daily rollup —
    calendar-bounded rows, <= 7-element arrays."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_micros(F.col("ts")) / _US_PER_DAY).alias("day"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    # rev (and every med/mad/dev derived from it) stays on the
    # decimal rail: a (type, day) cent sum is unbounded at corpus
    # scale, and the dev*10000 / mad*22239 cross-products are the
    # kendall-class wrap hazard (r13 review)
    daily = ev.groupBy("event_type", "day").agg(
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("rev")
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = daily.select(
        "event_type",
        "day",
        "rev",
        F.array_sort(F.collect_list("rev").over(w7)).alias("win"),
    )
    n = F.size(F.col("win"))
    med2 = F.element_at(F.col("win"), ((n + 1) / 2).cast("int")) + F.element_at(
        F.col("win"), (n / 2).cast("int") + 1
    )
    staged = arr.select("event_type", "day", "rev", "win", med2.alias("med_x2"))
    devs = F.array_sort(
        F.transform(
            F.col("win"), lambda v: F.abs(v * 2 - F.col("med_x2"))
        )
    )
    staged2 = staged.select(
        "event_type", "day", "rev", "med_x2", F.size("win").alias("n_window"),
        devs.alias("devs"),
    )
    nn = F.col("n_window")
    mad2 = F.element_at(
        F.col("devs"), ((nn + 1) / 2).cast("int")
    ) + F.element_at(F.col("devs"), (nn / 2).cast("int") + 1)
    staged3 = staged2.select(
        "event_type",
        "day",
        "rev",
        "med_x2",
        "n_window",
        mad2.alias("mad_x2"),
        (F.abs(F.col("rev") * 2 - F.col("med_x2"))).alias("dev_x2"),
    )
    flag = (F.col("n_window") >= _HAMPEL_MIN_N) & (
        F.col("dev_x2").cast("decimal(38,0)") * _HAMPEL_DEN
        > F.col("mad_x2").cast("decimal(38,0)") * _HAMPEL_NUM
    )
    return staged3.select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        F.col("rev").cast("long").alias("rev_cents"),
        F.col("n_window").cast("long").alias("n_window"),
        F.col("med_x2").cast("long").alias("med_x2"),
        F.col("mad_x2").cast("long").alias("mad_x2"),
        flag.alias("is_outlier"),
    ).orderBy("event_type", "day")


SQL_WINDOW_HAMPEL_OUTLIERS = f"""
WITH daily AS (
  SELECT event_type, epoch_us(ts) // {_US_PER_DAY} AS day,
         sum(CAST(floor(value * 100 + 0.5) AS HUGEINT)) AS rev
  FROM events GROUP BY 1, 2
),
arr AS (
  SELECT event_type, day, rev,
         list_sort(list(rev) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
  FROM daily
),
med AS (
  SELECT event_type, day, rev, win,
         win[CAST((len(win) + 1) // 2 AS BIGINT)]
           + win[CAST(len(win) // 2 AS BIGINT) + 1] AS med_x2
  FROM arr
),
dev AS (
  SELECT event_type, day, rev, med_x2, len(win) AS n_window,
         list_sort([abs(2 * v - med_x2) FOR v IN win]) AS devs
  FROM med
),
mad AS (
  SELECT event_type, day, rev, med_x2, n_window,
         devs[CAST((n_window + 1) // 2 AS BIGINT)]
           + devs[CAST(n_window // 2 AS BIGINT) + 1] AS mad_x2,
         abs(2 * rev - med_x2) AS dev_x2
  FROM dev
)
SELECT event_type,
       CAST(day AS BIGINT) AS day,
       CAST(rev AS BIGINT) AS rev_cents,
       CAST(n_window AS BIGINT) AS n_window,
       CAST(med_x2 AS BIGINT) AS med_x2,
       CAST(mad_x2 AS BIGINT) AS mad_x2,
       (n_window >= {_HAMPEL_MIN_N}
        AND CAST(dev_x2 AS HUGEINT) * {_HAMPEL_DEN}
            > CAST(mad_x2 AS HUGEINT) * {_HAMPEL_NUM}) AS is_outlier
FROM mad
ORDER BY event_type, day
"""


# --------------------------------------------------------------------
# U-shaped multi-touch attribution
# --------------------------------------------------------------------

_ATTR_WINDOW_US = 7 * _US_PER_DAY
_PPM = 1_000_000


def q_events_attribution_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: every
    purchase is a conversion; its touches are the same user's
    non-purchase events in the strict 7 days before.  Credit per
    conversion: 1 touch -> 100%; 2 -> 50/50; k >= 3 -> first 40%,
    last 40%, middles split 20% by integer division with the
    REMAINDER GOING TO THE FIRST touch (deterministic ppm, sums to
    exactly 1,000,000 per converted purchase).  Output: total credit
    and reach per touching event type.

    Scale: one user-keyed equi-join with a time-range predicate (the
    join_asof shape), per-conversion rank windows partitioned by the
    conversion id, then a partial-agg rollup onto the bounded type
    set."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        F.col("us").alias("conv_us"),
    )
    touch = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("event_type").alias("touch_type"),
        F.col("event_id").alias("touch_id"),
        F.col("us").alias("touch_us"),
    )
    j = conv.join(touch, "user_id").filter(
        (F.col("touch_us") < F.col("conv_us"))
        & (F.col("touch_us") >= F.col("conv_us") - _ATTR_WINDOW_US)
    )
    w = Window.partitionBy("conv_id").orderBy("touch_us", "touch_id")
    ranked = j.select(
        "conv_id",
        "touch_type",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(
            Window.partitionBy("conv_id").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("k"),
    )
    mid = F.expr(f"{_PPM // 5} DIV (k - 2)")
    rem = F.expr(f"{_PPM // 5} - (k - 2) * ({_PPM // 5} DIV (k - 2))")
    credit = (
        F.when(F.col("k") == 1, F.lit(_PPM))
        .when(F.col("k") == 2, F.lit(_PPM // 2))
        .when(F.col("rk") == 1, F.lit(2 * _PPM // 5) + rem)
        .when(F.col("rk") == F.col("k"), F.lit(2 * _PPM // 5))
        .otherwise(mid)
    )
    return (
        ranked.select(F.col("touch_type").alias("event_type"), "conv_id",
                      credit.alias("credit"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.countDistinct("conv_id").cast("long").alias("n_conversions"),
            F.sum(F.col("credit").cast("decimal(38,0)"))
            .cast("long")
            .alias("credit_ppm_total"),
        )
        .orderBy("event_type")
    )


SQL_EVENTS_ATTRIBUTION_CREDIT = f"""
WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS us FROM events
),
conv AS (
  SELECT user_id, event_id AS conv_id, us AS conv_us
  FROM ev WHERE event_type = 'purchase'
),
touch AS (
  SELECT user_id, event_type AS touch_type, event_id AS touch_id,
         us AS touch_us
  FROM ev WHERE event_type <> 'purchase'
),
ranked AS (
  SELECT c.conv_id, t.touch_type,
         row_number() OVER (PARTITION BY c.conv_id
                            ORDER BY t.touch_us, t.touch_id) AS rk,
         count(*) OVER (PARTITION BY c.conv_id) AS k
  FROM conv c JOIN touch t
    ON t.user_id = c.user_id
   AND t.touch_us < c.conv_us
   AND t.touch_us >= c.conv_us - {_ATTR_WINDOW_US}
),
credited AS (
  SELECT touch_type AS event_type, conv_id,
         CASE WHEN k = 1 THEN {_PPM}
              WHEN k = 2 THEN {_PPM // 2}
              WHEN rk = 1 THEN {2 * _PPM // 5}
                   + ({_PPM // 5} - (k - 2) * ({_PPM // 5} // (k - 2)))
              WHEN rk = k THEN {2 * _PPM // 5}
              ELSE {_PPM // 5} // (k - 2) END AS credit
  FROM ranked
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_touches,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions,
       CAST(sum(CAST(credit AS HUGEINT)) AS BIGINT) AS credit_ppm_total
FROM credited
GROUP BY event_type
ORDER BY event_type
"""


# --------------------------------------------------------------------
# Lorenz curve of character mass
# --------------------------------------------------------------------


def q_text_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of character mass per source at the decile grid:
    L(p) = the ppm share of total characters held by the k_p = n*p
    DIV 100 SMALLEST documents (ordered by n_chars, doc_id) — the
    inequality curve whose doubled area is the existing agg_gini.
    p = 100 reads exactly 1,000,000 by construction; grid points with
    k_p = 0 read 0.

    Scale: one rank/cumsum window per source + a 10-point bounded
    readout join per source."""
    d = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", F.col("n_chars").cast("long").alias("w")
    )
    w_rank = Window.partitionBy("source").orderBy("w", "doc_id")
    ranked = d.select(
        "source",
        F.row_number().over(w_rank).alias("rn"),
        F.sum(F.col("w").cast("decimal(38,0)"))
        .over(
            w_rank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .alias("cum"),
    )
    totals = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("w").cast("decimal(38,0)")).alias("tot"),
    )
    grid = totals.select(
        "source",
        "n",
        "tot",
        F.explode(F.expr("sequence(10, 100, 10)")).alias("p_pct"),
    ).withColumn("k_docs", F.expr("n * p_pct DIV 100"))
    out = grid.join(
        ranked,
        (grid.source == ranked.source) & (grid.k_docs == ranked.rn),
        "left",
    ).select(
        grid.source.alias("source"),
        F.col("p_pct").cast("long").alias("p_pct"),
        F.col("k_docs").cast("long").alias("k_docs"),
        F.coalesce(
            F.expr("CAST(cum * 1000000 DIV tot AS BIGINT)"), F.lit(0)
        ).alias("lorenz_ppm"),
    )
    return out.orderBy("source", "p_pct")


SQL_TEXT_LORENZ_CURVE = """
WITH d AS (
  SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w FROM documents
),
ranked AS (
  SELECT source,
         row_number() OVER (PARTITION BY source ORDER BY w, doc_id) AS rn,
         sum(CAST(w AS HUGEINT)) OVER (
           PARTITION BY source ORDER BY w, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM d
),
totals AS (
  SELECT source, count(*) AS n, sum(CAST(w AS HUGEINT)) AS tot
  FROM d GROUP BY 1
),
grid AS (
  SELECT t.source, t.n, t.tot, g.p_pct, t.n * g.p_pct // 100 AS k_docs
  FROM totals t,
       (SELECT unnest(range(10, 101, 10)) AS p_pct) g
)
SELECT g.source,
       CAST(g.p_pct AS BIGINT) AS p_pct,
       CAST(g.k_docs AS BIGINT) AS k_docs,
       CAST(coalesce(r.cum * 1000000 // g.tot, 0) AS BIGINT) AS lorenz_ppm
FROM grid g LEFT JOIN ranked r
  ON r.source = g.source AND r.rn = g.k_docs
ORDER BY g.source, g.p_pct
"""


# --------------------------------------------------------------------
# Simpson diversity of the token distribution
# --------------------------------------------------------------------


def q_text_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's index per source over word tokens: the probability
    two tokens drawn without replacement are the SAME word,
    lambda = sum n_i(n_i - 1) / (N(N - 1)) in ppm (0 = maximally
    diverse, 1e6 = single-word corpus), plus the vocabulary size and
    token count.  Pure integer numerator/denominator on the decimal
    rail (n_i^2 wraps LONG at corpus scale).  Sources with N < 2
    tokens are excluded (the index is undefined).

    Scale: one explode -> (source, word) partial-agg rollup (the
    tfidf shuffle shape), then an O(vocab) per-source fold."""
    d = _t(spark, sf_dir, "documents")
    ex = d.select("source", F.explode(words(F.col("text"))).alias("word"))
    wc = ex.groupBy("source", "word").agg(F.count(F.lit(1)).alias("c"))
    per = wc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum("c").cast("long").alias("n_tokens"),
        F.sum(
            F.col("c").cast("decimal(38,0)")
            * (F.col("c") - 1).cast("decimal(38,0)")
        ).alias("num"),
    )
    return (
        per.filter(F.col("n_tokens") >= 2)
        .select(
            "source",
            "vocab",
            "n_tokens",
            F.expr(
                "CAST(num * 1000000 DIV (CAST(n_tokens AS decimal(38,0))"
                " * (n_tokens - 1)) AS BIGINT)"
            ).alias("simpson_ppm"),
        )
        .orderBy("source")
    )


SQL_TEXT_SIMPSON_DIVERSITY = """
WITH e AS (
  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents
),
wc AS (SELECT source, word, count(*) AS c FROM e GROUP BY 1, 2),
per AS (
  SELECT source, count(*) AS vocab, sum(c) AS n_tokens,
         sum(CAST(c AS HUGEINT) * (c - 1)) AS num
  FROM wc GROUP BY 1
)
SELECT source,
       CAST(vocab AS BIGINT) AS vocab,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(num * 1000000 // (CAST(n_tokens AS HUGEINT) * (n_tokens - 1))
            AS BIGINT) AS simpson_ppm
FROM per WHERE n_tokens >= 2
ORDER BY source
"""


# --------------------------------------------------------------------
# best single split by SSE (changepoint localization)
# --------------------------------------------------------------------


def q_events_best_split_sse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changepoint LOCALIZATION per event type: among all boundaries
    of the observed daily-count series, pick the split minimizing
    SSE(prefix) + SSE(suffix) — the first step of binary
    segmentation (events_changepoint_cusum DETECTS drift; this says
    WHERE).  SSE comes from exact integer cumulative moments
    (S2 - S1^2/n evaluated identically on both engines — one double
    division per segment); ties break to the earliest day.  Types
    with < 2 observed days are excluded.

    Scale: per-type cumulative windows over the daily rollup
    (calendar-bounded) — the candidate set IS the rollup frame; no
    self-join."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_micros(F.col("ts")) / _US_PER_DAY).alias("day"),
    )
    daily = ev.groupBy("event_type", "day").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = w.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = daily.select(
        "event_type",
        "day",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("c").over(w_cum).alias("s1"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
        .over(w_cum)
        .alias("s2"),
        F.sum("c").over(w_all).alias("t1"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c"))
        .over(w_all)
        .alias("t2"),
    )
    cand = cum.filter((F.col("i") < F.col("n")) & (F.col("n") >= 2))
    sse_l = F.col("s2").cast("double") - (
        F.col("s1").cast("double") * F.col("s1").cast("double")
    ) / F.col("i").cast("double")
    sse_r = (F.col("t2") - F.col("s2")).cast("double") - (
        (F.col("t1") - F.col("s1")).cast("double")
        * (F.col("t1") - F.col("s1")).cast("double")
    ) / (F.col("n") - F.col("i")).cast("double")
    scored = cand.select(
        "event_type",
        "day",
        "n",
        "t1",
        "t2",
        (sse_l + sse_r).alias("sse_split"),
    )
    w_pick = Window.partitionBy("event_type").orderBy("sse_split", "day")
    best = scored.withColumn("rk", F.row_number().over(w_pick)).filter(
        F.col("rk") == 1
    )
    sse_all = F.col("t2").cast("double") - (
        F.col("t1").cast("double") * F.col("t1").cast("double")
    ) / F.col("n").cast("double")
    return best.select(
        "event_type",
        F.col("day").cast("long").alias("split_day"),
        F.col("n").cast("long").alias("n_days"),
        F.floor(sse_all * 1000.0 + 0.5).cast("long").alias("sse_total_milli"),
        F.floor(F.col("sse_split") * 1000.0 + 0.5)
        .cast("long")
        .alias("sse_split_milli"),
    ).orderBy("event_type")


SQL_EVENTS_BEST_SPLIT_SSE = f"""
WITH ev AS (
  SELECT event_type, epoch_us(ts) // {_US_PER_DAY} AS day FROM events
),
daily AS (SELECT event_type, day, count(*) AS c FROM ev GROUP BY 1, 2),
cum AS (
  SELECT event_type, day,
         row_number() OVER w AS i,
         count(*) OVER wa AS n,
         sum(c) OVER wc AS s1,
         sum(CAST(c AS HUGEINT) * c) OVER wc AS s2,
         sum(c) OVER wa AS t1,
         sum(CAST(c AS HUGEINT) * c) OVER wa AS t2
  FROM daily
  WINDOW w AS (PARTITION BY event_type ORDER BY day),
         wc AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wa AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING
                         AND UNBOUNDED FOLLOWING)
),
scored AS (
  SELECT event_type, day, n, t1, t2,
         (CAST(s2 AS DOUBLE)
          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(i AS DOUBLE))
         + (CAST(t2 - s2 AS DOUBLE)
            - CAST(t1 - s1 AS DOUBLE) * CAST(t1 - s1 AS DOUBLE)
              / CAST(n - i AS DOUBLE)) AS sse_split
  FROM cum WHERE i < n AND n >= 2
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY event_type
                               ORDER BY sse_split, day) AS rk
  FROM scored
)
SELECT event_type,
       CAST(day AS BIGINT) AS split_day,
       CAST(n AS BIGINT) AS n_days,
       CAST(floor((CAST(t2 AS DOUBLE)
                   - CAST(t1 AS DOUBLE) * CAST(t1 AS DOUBLE)
                     / CAST(n AS DOUBLE)) * 1000.0 + 0.5) AS BIGINT)
           AS sse_total_milli,
       CAST(floor(sse_split * 1000.0 + 0.5) AS BIGINT) AS sse_split_milli
FROM best WHERE rk = 1
ORDER BY event_type
"""


# --------------------------------------------------------------------
# type-pair audience Jaccard
# --------------------------------------------------------------------


def q_events_type_user_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: for every event-type pair (ta < tb),
    the Jaccard of their user bases in ppm — which behaviors share an
    audience.  The per-user self-join fans out to at most
    |types|^2 rows per user (types are a bounded set), and the
    marginals come from one distinct rollup.

    Scale: distinct (type, user) -> user-keyed self-join (bounded
    fan-out) -> partial-agg onto the type-pair grid."""
    tu = (
        _t(spark, sf_dir, "events")
        .select("event_type", "user_id")
        .distinct()
    )
    marg = tu.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = tu.select(F.col("event_type").alias("ta"), "user_id")
    b = tu.select(F.col("event_type").alias("tb"), "user_id")
    co = (
        a.join(b, "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .groupBy("ta", "tb")
        .agg(F.count(F.lit(1)).alias("co"))
    )
    return (
        co.join(
            F.broadcast(marg.select(F.col("event_type").alias("ta"),
                                    F.col("n").alias("na"))),
            "ta",
        )
        .join(
            F.broadcast(marg.select(F.col("event_type").alias("tb"),
                                    F.col("n").alias("nb"))),
            "tb",
        )
        .select(
            "ta",
            "tb",
            F.col("co").cast("long").alias("n_shared"),
            F.col("na").cast("long").alias("n_a"),
            F.col("nb").cast("long").alias("n_b"),
            F.expr(
                "CAST(CAST(co AS decimal(38,0)) * 1000000"
                " DIV (na + nb - co) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("ta", "tb")
    )


SQL_EVENTS_TYPE_USER_JACCARD = """
WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
marg AS (SELECT event_type, count(*) AS n FROM tu GROUP BY 1),
co AS (
  SELECT a.event_type AS ta, b.event_type AS tb, count(*) AS co
  FROM tu a JOIN tu b
    ON b.user_id = a.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT c.ta, c.tb,
       CAST(c.co AS BIGINT) AS n_shared,
       CAST(ma.n AS BIGINT) AS n_a,
       CAST(mb.n AS BIGINT) AS n_b,
       CAST(CAST(c.co AS HUGEINT) * 1000000 // (ma.n + mb.n - c.co)
            AS BIGINT) AS jaccard_ppm
FROM co c
JOIN marg ma ON ma.event_type = c.ta
JOIN marg mb ON mb.event_type = c.tb
ORDER BY c.ta, c.tb
"""


QUERIES: dict[str, QuerySpec] = {
    "orders_fifo_allocation": QuerySpec(
        q_orders_fifo_allocation, SQL_ORDERS_FIFO_ALLOCATION
    ),
    "window_hampel_outliers": QuerySpec(
        q_window_hampel_outliers, SQL_WINDOW_HAMPEL_OUTLIERS
    ),
    "events_attribution_credit": QuerySpec(
        q_events_attribution_credit, SQL_EVENTS_ATTRIBUTION_CREDIT
    ),
    "text_lorenz_curve": QuerySpec(q_text_lorenz_curve, SQL_TEXT_LORENZ_CURVE),
    "text_simpson_diversity": QuerySpec(
        q_text_simpson_diversity, SQL_TEXT_SIMPSON_DIVERSITY
    ),
    "events_best_split_sse": QuerySpec(
        q_events_best_split_sse, SQL_EVENTS_BEST_SPLIT_SSE
    ),
    "events_type_user_jaccard": QuerySpec(
        q_events_type_user_jaccard, SQL_EVENTS_TYPE_USER_JACCARD
    ),
}


# --------------------------------------------------------------------
# PSI drift (batch 54)
# --------------------------------------------------------------------

_PSI_EPS = 1e-6  # standard zero-bin share floor (scorecard convention)


def q_stats_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event-value distribution
    between the epoch halves, per event type — the scorecard-industry
    drift metric that complements the existing KS (worst CDF gap) and
    CvM (integrated gap): PSI = sum_i (p_i - q_i) * ln(p_i / q_i)
    over the shared 0.1-wide value grid (agg_ks_drift's binning),
    zero-bin shares floored at 1e-6 (the standard convention), with
    the textbook bands: < 0.10 stable, < 0.25 moderate, else major.
    The epoch split is the shared epoch_mid rule.  ln follows the
    agg_source_entropy precedent (both engines' ln agree far inside
    the round-6 snap); the band is derived from the SNAPPED value so
    the label can never straddle a boundary differently per engine.
    Types with an empty half are excluded (PSI needs both samples).

    Scale: one hash aggregate to (type, bin, half) counts — the bin
    axis is bounded by the VALUE DOMAIN, not row count — then a
    per-type rollup; the only cartesian is the 1-row epoch-midpoint
    broadcast (allowlist-pinned, the stats_cohens_d shape)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
        F.floor(F.col("value") * 10).cast("long").alias("bin"),
    ).filter(F.col("bin").isNotNull())
    from .warehouse25 import epoch_mid

    halves = ev.crossJoin(F.broadcast(epoch_mid(ev)))
    # persisted: per_bin (bounded by types x value-domain bins) feeds
    # BOTH the per-type totals and the term join — without the cache
    # each consumer re-runs the corpus aggregation

    per_bin = (
        halves.groupBy("event_type", "bin").agg(
            F.sum(
                F.when(F.col("us") <= F.col("mid_us"), 1).otherwise(0)
            ).alias("npre"),
            F.sum(
                F.when(F.col("us") > F.col("mid_us"), 1).otherwise(0)
            ).alias("npost"),
        )
        .persist()
    )
    tot = per_bin.groupBy("event_type").agg(
        F.sum("npre").alias("tpre"),
        F.sum("npost").alias("tpost"),
        F.count(F.lit(1)).alias("n_bins"),
    )
    j = per_bin.join(tot, "event_type").filter(
        (F.col("tpre") > 0) & (F.col("tpost") > 0)
    )
    p = F.greatest(
        F.col("npre").cast("double") / F.col("tpre").cast("double"),
        F.lit(_PSI_EPS),
    )
    q = F.greatest(
        F.col("npost").cast("double") / F.col("tpost").cast("double"),
        F.lit(_PSI_EPS),
    )
    terms = j.select(
        "event_type",
        "tpre",
        "tpost",
        "n_bins",
        ((p - q) * F.log(p / q)).alias("term"),
    )
    psi = F.round(F.sum("term"), 6)
    return (
        terms.groupBy("event_type")
        .agg(
            F.any_value("tpre").cast("long").alias("n_pre"),
            F.any_value("tpost").cast("long").alias("n_post"),
            F.any_value("n_bins").cast("long").alias("n_bins"),
            psi.alias("psi"),
        )
        .select(
            "event_type",
            "n_pre",
            "n_post",
            "n_bins",
            "psi",
            F.when(F.col("psi") < 0.10, F.lit("stable"))
            .when(F.col("psi") < 0.25, F.lit("moderate"))
            .otherwise(F.lit("major"))
            .alias("band"),
        )
        .orderBy("event_type")
    )


SQL_STATS_PSI_DRIFT = f"""
WITH ev AS (
  SELECT event_type, epoch_us(ts) AS us,
         CAST(floor(value * 10) AS BIGINT) AS bin
  FROM events WHERE value IS NOT NULL
),
mid AS (SELECT (min(us) + max(us)) // 2 AS mid_us FROM ev),
per_bin AS (
  SELECT event_type, bin,
         sum(CASE WHEN e.us <= m.mid_us THEN 1 ELSE 0 END) AS npre,
         sum(CASE WHEN e.us > m.mid_us THEN 1 ELSE 0 END) AS npost
  FROM ev e CROSS JOIN mid m
  GROUP BY 1, 2
),
tot AS (
  SELECT event_type, sum(npre) AS tpre, sum(npost) AS tpost,
         count(*) AS n_bins
  FROM per_bin GROUP BY 1
),
terms AS (
  SELECT p.event_type, t.tpre, t.tpost, t.n_bins,
         (greatest(p.npre * 1.0 / t.tpre, CAST({_PSI_EPS} AS DOUBLE))
          - greatest(p.npost * 1.0 / t.tpost, CAST({_PSI_EPS} AS DOUBLE)))
         * ln(greatest(p.npre * 1.0 / t.tpre, CAST({_PSI_EPS} AS DOUBLE))
              / greatest(p.npost * 1.0 / t.tpost,
                         CAST({_PSI_EPS} AS DOUBLE))) AS term
  FROM per_bin p JOIN tot t USING (event_type)
  WHERE t.tpre > 0 AND t.tpost > 0
),
agg AS (
  SELECT event_type,
         CAST(any_value(tpre) AS BIGINT) AS n_pre,
         CAST(any_value(tpost) AS BIGINT) AS n_post,
         CAST(any_value(n_bins) AS BIGINT) AS n_bins,
         round(sum(term), 6) AS psi
  FROM terms GROUP BY 1
)
SELECT event_type, n_pre, n_post, n_bins, psi,
       CASE WHEN psi < 0.10 THEN 'stable'
            WHEN psi < 0.25 THEN 'moderate'
            ELSE 'major' END AS band
FROM agg
ORDER BY event_type
"""

QUERIES["stats_psi_drift"] = QuerySpec(q_stats_psi_drift, SQL_STATS_PSI_DRIFT)
