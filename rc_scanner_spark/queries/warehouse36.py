"""Round-13 batch 52: temporal join surfaces, windowed medians, PPS
sampling, and two fixed-point analyses.

* ``join_bitemporal_asof`` — as-of with TWO time axes: each click is
  paired with the latest purchase version that was both VALID (event
  time <= click time) and KNOWN (simulated pipeline-delay knowledge
  time <= click time) — the point-in-time-correct lookup that
  prevents label leakage when training data is joined to late-
  arriving feature versions.
* ``join_interpolate_linear`` — piecewise-linear interpolation join:
  a sparse weekly price-index knot series is interpolated at every
  order day via IGNORE-NULLS bracketing windows (backward + forward
  as-of in one pass) — the calibration-curve lookup pattern.
* ``window_rolling_median`` — exact rolling 7-day median of daily
  revenue per event type off a windowed ``collect_list`` +
  ``array_sort`` (pure integers end to end: the median is emitted
  as lo+hi of the two middle elements, x2 to stay integral).
* ``sample_pps_systematic`` — probability-proportional-to-size
  systematic sampling per source (weights = n_chars): k grid points
  laid over the cumulative weight line in hash order; each document
  is hit floor-count times (exact integer arithmetic, no negative
  division — Spark DIV truncates toward zero while DuckDB // floors,
  so operands are kept non-negative by construction).
* ``events_haar_energy`` — Haar wavelet energy spectrum of the daily
  event-volume series over a 32-day dyadic grid: 5 levels of
  pairwise difference energies, all exact integers — the multi-scale
  burstiness fingerprint.
* ``events_markov_stationary`` — the stationary distribution of the
  user-level event-type transition chain via a 12-step power
  iteration on an INTEGER pico grid (the graph_pagerank float
  discipline: truncating integer divisions, order-independent
  integer sums — bit-deterministic at any partitioning).

Reference scope note: the reference engine (scanner.py:120-175) has
no analytics surface; extends SURVEY.md §2.B's join/window/sampling
rows and the LLM-pipeline battery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from . import QuerySpec, load_tuned
from .warehouse28 import _US_PER_DAY

_t = load_tuned


# --------------------------------------------------------------------
# bitemporal as-of join
# --------------------------------------------------------------------

_KNOW_DELAY_CAP_US = 4 * 3_600_000_000  # simulated pipeline delay <= 4 h


def q_join_bitemporal_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-of: purchases are VERSIONS of a user's value,
    valid from their event time but only KNOWN after a deterministic
    md5-derived pipeline delay (0..4 h).  Each click is paired with
    the latest version that was both valid AND known at click time —
    the two-axis point-in-time lookup a leakage-safe feature join
    needs (a plain as-of would read versions the pipeline had not
    yet delivered).  Tie-break: latest valid_us, then latest
    know_us, then largest version id.

    Scale: identical shape to join_asof — one equi-join shuffle on
    user_id + one per-click window pick (partitioned by click id)."""
    ev = _t(spark, sf_dir, "events")
    versions = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("ver_id"),
        F.unix_micros(F.col("ts")).alias("valid_us"),
        (
            F.unix_micros(F.col("ts"))
            + md5_long(F.concat(F.col("event_id").cast("string"), F.lit("|know42")))
            % _KNOW_DELAY_CAP_US
        ).alias("know_us"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("ver_cents"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.unix_micros(F.col("ts")).alias("q_us"),
    )
    joined = clicks.join(versions, "user_id").filter(
        (F.col("valid_us") <= F.col("q_us"))
        & (F.col("know_us") <= F.col("q_us"))
    )
    w = Window.partitionBy("click_id").orderBy(
        F.col("valid_us").desc(), F.col("know_us").desc(), F.col("ver_id").desc()
    )
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "click_id",
            "user_id",
            "ver_id",
            "ver_cents",
            (F.col("q_us") - F.col("valid_us")).alias("staleness_us"),
            (F.col("q_us") - F.col("know_us")).alias("know_lag_us"),
        )
        .orderBy("click_id")
    )


SQL_JOIN_BITEMPORAL_ASOF = f"""
WITH versions AS (
  SELECT user_id, event_id AS ver_id,
         epoch_us(ts) AS valid_us,
         epoch_us(ts)
           + CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)
                                          || '|know42'), 1, 15))
                  AS BIGINT) % {_KNOW_DELAY_CAP_US} AS know_us,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS ver_cents
  FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT event_id AS click_id, user_id, epoch_us(ts) AS q_us
  FROM events WHERE event_type = 'click'
),
ranked AS (
  SELECT c.click_id, c.user_id, v.ver_id, v.ver_cents,
         c.q_us - v.valid_us AS staleness_us,
         c.q_us - v.know_us AS know_lag_us,
         row_number() OVER (PARTITION BY c.click_id
                            ORDER BY v.valid_us DESC, v.know_us DESC,
                                     v.ver_id DESC) AS rk
  FROM clicks c JOIN versions v
    ON v.user_id = c.user_id
   AND v.valid_us <= c.q_us AND v.know_us <= c.q_us
)
SELECT click_id, user_id, ver_id, ver_cents, staleness_us, know_lag_us
FROM ranked WHERE rk = 1
ORDER BY click_id
"""


# --------------------------------------------------------------------
# piecewise-linear interpolation join
# --------------------------------------------------------------------

_KNOT_STRIDE_DAYS = 7


def q_join_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Piecewise-linear interpolation join: a sparse price-index
    series (knots = mean order cents on every 7th day number) is
    evaluated at EVERY order day by bracketing each day with its
    nearest knots on both sides — backward and forward as-of in one
    pass via IGNORE-NULLS running windows over the merged
    day/knot frame — then lerping.  Days outside the knot span are
    excluded on both engines (no extrapolation).

    Parity: knot values are integer cents (truncating DIV mean); the
    lerp is one double expression evaluated identically; a day that
    IS a knot reproduces its knot value exactly (d1 = d0 branch).

    Scale: every frame after the first rollup is CALENDAR-bounded
    (distinct days / knots), so the two unpartitioned windows run
    over O(days) rows at any corpus size (allowlisted in
    test_plan_audit)."""
    o = _t(spark, sf_dir, "orders").select(
        F.floor(F.unix_micros(F.col("o_orderdate")) / _US_PER_DAY).alias(
            "day"
        ),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias(
            "cents"
        ),
    )
    per_day = o.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
    )
    knots = per_day.filter(F.col("day") % _KNOT_STRIDE_DAYS == 0).select(
        "day", F.expr("CAST(s DIV n_orders AS BIGINT)").alias("idx")
    )
    merged = per_day.select("day", "n_orders").join(knots, "day", "left")
    w_back = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_fwd = Window.orderBy("day").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    br = merged.select(
        "day",
        "n_orders",
        F.last(
            F.when(F.col("idx").isNotNull(), F.col("day")), ignorenulls=True
        )
        .over(w_back)
        .alias("d0"),
        F.last("idx", ignorenulls=True).over(w_back).alias("y0"),
        F.first(
            F.when(F.col("idx").isNotNull(), F.col("day")), ignorenulls=True
        )
        .over(w_fwd)
        .alias("d1"),
        F.first("idx", ignorenulls=True).over(w_fwd).alias("y1"),
    ).filter(F.col("d0").isNotNull() & F.col("d1").isNotNull())
    interp = F.when(F.col("d1") == F.col("d0"), F.col("y0").cast("double")).otherwise(
        F.col("y0").cast("double")
        + (F.col("y1") - F.col("y0")).cast("double")
        * (F.col("day") - F.col("d0")).cast("double")
        / (F.col("d1") - F.col("d0")).cast("double")
    )
    return br.select(
        F.col("day").cast("long").alias("day"),
        F.col("n_orders").cast("long").alias("n_orders"),
        F.col("d0").cast("long").alias("knot_lo_day"),
        F.col("d1").cast("long").alias("knot_hi_day"),
        F.floor(interp * 1000.0 + 0.5).cast("long").alias("idx_interp_milli"),
    ).orderBy("day")


SQL_JOIN_INTERPOLATE_LINEAR = f"""
WITH o AS (
  SELECT epoch_us(o_orderdate) // {_US_PER_DAY} AS day,
         CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
per_day AS (
  SELECT day, count(*) AS n_orders, sum(CAST(cents AS HUGEINT)) AS s
  FROM o GROUP BY 1
),
knots AS (
  SELECT day, CAST(s // n_orders AS BIGINT) AS idx
  FROM per_day WHERE day % {_KNOT_STRIDE_DAYS} = 0
),
merged AS (
  SELECT p.day, p.n_orders, k.idx
  FROM per_day p LEFT JOIN knots k USING (day)
),
br AS (
  SELECT day, n_orders,
         last_value(CASE WHEN idx IS NOT NULL THEN day END IGNORE NULLS)
           OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS d0,
         last_value(idx IGNORE NULLS)
           OVER (ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS y0,
         first_value(CASE WHEN idx IS NOT NULL THEN day END IGNORE NULLS)
           OVER (ORDER BY day
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS d1,
         first_value(idx IGNORE NULLS)
           OVER (ORDER BY day
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS y1
  FROM merged
)
SELECT CAST(day AS BIGINT) AS day,
       CAST(n_orders AS BIGINT) AS n_orders,
       CAST(d0 AS BIGINT) AS knot_lo_day,
       CAST(d1 AS BIGINT) AS knot_hi_day,
       CAST(floor(CASE WHEN d1 = d0 THEN CAST(y0 AS DOUBLE)
                       ELSE CAST(y0 AS DOUBLE)
                            + CAST(y1 - y0 AS DOUBLE)
                              * CAST(day - d0 AS DOUBLE)
                              / CAST(d1 - d0 AS DOUBLE)
                  END * 1000.0 + 0.5) AS BIGINT) AS idx_interp_milli
FROM br
WHERE d0 IS NOT NULL AND d1 IS NOT NULL
ORDER BY day
"""


# --------------------------------------------------------------------
# rolling 7-day exact median
# --------------------------------------------------------------------


def q_window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling 7-day median of daily revenue (cents) per event
    type — the robust rolling baseline an anomaly monitor compares
    against (a rolling MEAN is dragged by one spiky day; the median
    is not).  The window collects the trailing <= 7 daily totals,
    sorts the bounded array, and reads the two middle elements; the
    median is emitted as their exact integer SUM (median x2) so no
    float ever appears.

    Scale: windows are partitioned by event type over the daily
    rollup (calendar-bounded rows, <= 7-element arrays)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_micros(F.col("ts")) / _US_PER_DAY).alias("day"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    # rev STAYS on the decimal rail through the window machinery: a
    # (type, day) cent sum is unbounded at corpus scale, and a LONG
    # cast would yield NULL on Spark (non-ANSI) while the twin's
    # HUGEINT raises — divergent behavior (r13 review)
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
    lo = F.element_at(F.col("win"), ((n + 1) / 2).cast("int"))
    hi = F.element_at(F.col("win"), (n / 2).cast("int") + 1)
    return arr.select(
        "event_type",
        F.col("day").cast("long").alias("day"),
        F.col("rev").cast("long").alias("rev_cents"),
        n.cast("long").alias("n_window"),
        (lo + hi).cast("long").alias("median_cents_x2"),
    ).orderBy("event_type", "day")


SQL_WINDOW_ROLLING_MEDIAN = """
WITH daily AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
         sum(CAST(floor(value * 100 + 0.5) AS HUGEINT)) AS rev
  FROM events GROUP BY 1, 2
),
arr AS (
  SELECT event_type, day, rev,
         list_sort(list(rev) OVER (
           PARTITION BY event_type ORDER BY day
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS win
  FROM daily
)
SELECT event_type,
       CAST(day AS BIGINT) AS day,
       CAST(rev AS BIGINT) AS rev_cents,
       CAST(len(win) AS BIGINT) AS n_window,
       CAST(win[CAST((len(win) + 1) // 2 AS BIGINT)]
            + win[CAST(len(win) // 2 AS BIGINT) + 1] AS BIGINT)
           AS median_cents_x2
FROM arr
ORDER BY event_type, day
"""


# --------------------------------------------------------------------
# PPS systematic sampling
# --------------------------------------------------------------------

_PPS_K = 20  # grid points per source


def q_sample_pps_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size systematic sample per source:
    documents are laid on the cumulative n_chars line in md5-hash
    order (storage-order immune), and k = 20 grid points at
    (2j+1) * T / (2k) pick the documents whose interval they land in
    — big documents can be hit multiple times (their exact
    multiplicity is the output, the standard PPS-with-replacement
    accounting).  hits(doc) = f(cum) - f(cum - w) with
    f(c) = min(k, (2k*c - T) DIV (2T) + 1) for 2k*c >= T else 0 —
    all operands non-negative BY CONSTRUCTION (Spark DIV truncates
    toward zero, DuckDB // floors: they only agree on non-negative
    operands).

    Scale: one cumulative window PER SOURCE (partitioned) over the
    hash order; weights ride the decimal rail so 2k * cum cannot
    wrap at any corpus size."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("w"),
        F.md5(
            F.concat(F.col("doc_id").cast("string"), F.lit("|pps42"))
        ).alias("h"),
    ).filter(F.col("w") > 0)
    w_cum = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = (
        Window.partitionBy("source")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    cum = d.select(
        "doc_id",
        "source",
        "w",
        F.sum(F.col("w").cast("decimal(38,0)")).over(w_cum).alias("cum"),
        F.sum(F.col("w").cast("decimal(38,0)")).over(w_all).alias("t"),
    )
    k2 = 2 * _PPS_K

    def f_hits(c: str) -> F.Column:
        return F.when(
            F.expr(f"{k2} * {c} >= t"),
            F.least(
                F.lit(_PPS_K).cast("decimal(38,0)"),
                F.expr(f"({k2} * {c} - t) DIV (2 * t) + 1"),
            ),
        ).otherwise(F.lit(0).cast("decimal(38,0)"))

    hits = (f_hits("cum") - f_hits("(cum - w)")).cast("long")
    return (
        cum.select("doc_id", "source", "w", hits.alias("n_hits"))
        .filter(F.col("n_hits") > 0)
        .select(
            "source",
            "doc_id",
            F.col("w").alias("weight_chars"),
            "n_hits",
        )
        .orderBy("source", "doc_id")
    )


SQL_SAMPLE_PPS_SYSTEMATIC = f"""
WITH d AS (
  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w,
         md5(CAST(doc_id AS VARCHAR) || '|pps42') AS h
  FROM documents WHERE n_chars > 0
),
cum AS (
  SELECT doc_id, source, w,
         sum(CAST(w AS HUGEINT)) OVER (
           PARTITION BY source ORDER BY h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(CAST(w AS HUGEINT)) OVER (PARTITION BY source) AS t
  FROM d
),
hits AS (
  SELECT doc_id, source, w,
         CAST((CASE WHEN {2 * _PPS_K} * cum >= t
                    THEN least(CAST({_PPS_K} AS HUGEINT),
                               ({2 * _PPS_K} * cum - t) // (2 * t) + 1)
                    ELSE 0 END)
              - (CASE WHEN {2 * _PPS_K} * (cum - w) >= t
                      THEN least(CAST({_PPS_K} AS HUGEINT),
                                 ({2 * _PPS_K} * (cum - w) - t)
                                   // (2 * t) + 1)
                      ELSE 0 END) AS BIGINT) AS n_hits
  FROM cum
)
SELECT source, doc_id, w AS weight_chars, n_hits
FROM hits WHERE n_hits > 0
ORDER BY source, doc_id
"""


# --------------------------------------------------------------------
# Haar wavelet energy
# --------------------------------------------------------------------

_HAAR_GRID = 32  # dyadic day grid (5 levels)


def q_events_haar_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet energy spectrum of daily event volume per type
    over a 32-day dyadic grid anchored at the corpus' first day:
    level L's energy is the sum of squared pairwise differences of
    the level-(L-1) sums — the multi-scale burstiness fingerprint
    (level 1 = day-to-day noise, level 5 = fortnight-vs-fortnight
    drift).  Missing days are explicit zeros (spine fill), days past
    the grid are dropped — both engines see the identical series.

    Parity: PURE integer arithmetic end to end (squares on the
    decimal rail: a day-pair difference can square past LONG at the
    target scale).

    Scale: the spine is |types| x 32 rows; ONE groupBy(event_type)
    collects each type's 32-slot series into an array and all 5
    levels evaluate as array expressions inside the projection (r14 —
    the earlier form ran 5 groupBy levels x 2 consumers over a
    persisted series frame: 10 lazy plan copies, ~15 AQE stage
    launches for a few KB, 1.8-2.7 s wall at sf0.1).  Pair sums and
    differences are the same decimal(38,0) arithmetic as the grouped
    form — decimal adds are exact and order-free, so the result is
    bit-identical (oracle unchanged and hash-green; planted +
    randomized tests pass).  Each level's alias is referenced several
    times by the next, which CollapseProject refuses to inline —
    every level evaluates once."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.unix_micros(F.col("ts")) / _US_PER_DAY).alias("day"),
    )
    min_day = ev.agg(F.min("day").alias("min_day"))
    daily = (
        ev.crossJoin(F.broadcast(min_day))
        .select("event_type", (F.col("day") - F.col("min_day")).alias("idx"))
        .filter(F.col("idx") < _HAAR_GRID)
        .groupBy("event_type", "idx")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    spine = (
        daily.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(
                F.sequence(F.lit(0), F.lit(_HAAR_GRID - 1))
            ).alias("idx"),
        )
    )
    series = spine.join(daily, ["event_type", "idx"], "left").select(
        "event_type",
        "idx",
        F.coalesce(F.col("x"), F.lit(0)).cast("decimal(38,0)").alias("x"),
    )
    # One row per type: the 32-slot series as an idx-ordered array
    # (spine guarantees exactly _HAAR_GRID slots).
    cur = series.groupBy("event_type").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(idx, x))),"
            " p -> p.x) AS xs0"
        )
    )
    for level in range(1, 6):
        prev, n = f"xs{level - 1}", _HAAR_GRID >> level
        lo = f"element_at({prev}, 2*i+1)"
        hi = f"element_at({prev}, 2*i+2)"
        pair_sum = f"transform(sequence(0, {n - 1}), i -> {lo} + {hi})"
        d_sq = (
            f"aggregate(sequence(0, {n - 1}), CAST(0 AS DECIMAL(38,0)),"
            f" (s, i) -> CAST(s + ({lo} - {hi}) * ({lo} - {hi})"
            f" AS DECIMAL(38,0)))"
        )
        cur = cur.selectExpr(
            "*",
            f"{pair_sum} AS xs{level}",
            f"named_struct('level', CAST({level} AS BIGINT),"
            f" 'n_coeffs', CAST({n} AS BIGINT),"
            f" 'energy', CAST({d_sq} AS BIGINT)) AS lv{level}",
        )
    return (
        cur.select(
            "event_type",
            F.explode(F.array(*[f"lv{i}" for i in range(1, 6)])).alias("z"),
        )
        .select("event_type", "z.level", "z.n_coeffs", "z.energy")
        .orderBy("event_type", "level")
    )


def _haar_sql_levels() -> str:
    ctes = []
    prev = "series"
    for level in range(1, 6):
        ctes.append(
            f"""lvl{level} AS (
  SELECT event_type, idx // 2 AS idx,
         sum(CASE WHEN idx % 2 = 0 THEN x ELSE -x END) AS d,
         sum(x) AS s
  FROM {prev} GROUP BY 1, 2
)"""
        )
        prev = f"lvl{level}_next"
        ctes.append(
            f"""{prev} AS (SELECT event_type, idx, s AS x FROM lvl{level})"""
        )
    return ",\n".join(ctes)


SQL_EVENTS_HAAR_ENERGY = f"""
WITH ev AS (
  SELECT event_type, epoch_us(ts) // {_US_PER_DAY} AS day FROM events
),
mind AS (SELECT min(day) AS min_day FROM ev),
daily AS (
  SELECT event_type, day - m.min_day AS idx, count(*) AS x
  FROM ev, mind m
  WHERE day - m.min_day < {_HAAR_GRID}
  GROUP BY 1, 2
),
spine AS (
  SELECT t.event_type, g.idx
  FROM (SELECT DISTINCT event_type FROM daily) t,
       (SELECT unnest(range(0, {_HAAR_GRID})) AS idx) g
),
series AS (
  SELECT s.event_type, s.idx,
         CAST(coalesce(d.x, 0) AS HUGEINT) AS x
  FROM spine s LEFT JOIN daily d
    ON d.event_type = s.event_type AND d.idx = s.idx
),
{_haar_sql_levels()}
SELECT event_type, CAST(level AS BIGINT) AS level,
       CAST(n_coeffs AS BIGINT) AS n_coeffs,
       CAST(energy AS BIGINT) AS energy
FROM (
  {" UNION ALL ".join(
      f"SELECT event_type, {lv} AS level, count(*) AS n_coeffs,"
      f" sum(d * d) AS energy FROM lvl{lv} GROUP BY 1"
      for lv in range(1, 6)
  )}
)
ORDER BY event_type, level
"""


# --------------------------------------------------------------------
# Markov stationary distribution
# --------------------------------------------------------------------

_MSTAT_ITERS = 12
_MSTAT_GRID = 1_000_000_000_000  # pico mass grid (= graph_pagerank)


def q_events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type transition chain
    (events_markov_transitions' matrix, taken to its fixed point):
    12 synchronous power-iteration steps x' = x P from the uniform
    vector — where the user journey settles in the long run.

    Float discipline (the graph_pagerank pattern): mass lives on an
    INTEGER pico grid; each step's contribution is a truncating
    integer division (x_i * cnt_ij) DIV row_i (decimal rail for the
    product) and inflows are integer sums — order-independent, so
    the result is bit-deterministic at any partitioning.  Types with
    no inflow at a step hold mass 0 via the left join; truncation
    leaks < k pico per step (documented, deterministic).

    Scale: the transition matrix is |types|^2 rows after one
    lag-window pass over user timelines; the 12 power steps then run
    over the COLLECTED bounded matrix inside one projection (r14 —
    see below), so iteration cost is |types|^2 x iters expression
    evaluations on one row, not 12 rounds of join+aggregate stages.

    r14 restructure (guide §1.2: the distributed algorithm first):
    the pre-r14 form ran each of the 12 steps as matrix-join →
    inflow-aggregate → node left-join over the persisted 25-row
    matrix — ~3 AQE stages per step, 36+ stage launches to move a few
    hundred bytes, measured 3.7-8 s wall at sf0.1 with ~zero executor
    compute.  Since the matrix and node list are bounded by
    |event_type|^2 (the same argument that justified persisting
    them), they collapse to ONE row of arrays; the power loop becomes
    a single ``aggregate(sequence(1, iters), x0, step)`` fold in one
    projection, where the mass vector is the fold's lambda
    ACCUMULATOR.  (Not 12 stacked projections: CollapseProject
    inlines each step's alias into the next step's lambda, and
    lambda-bound subtrees get no common-subexpression elimination, so
    the stacked form re-evaluates the whole history per element
    access — exponential.  A lambda accumulator cannot be inlined;
    each step evaluates exactly once.)  Every operation is the SAME
    integer arithmetic on the same pico grid — truncating
    decimal-rail division per contribution, order-free integer sums —
    so the result is bit-identical (planted + randomized tests and
    the unchanged DuckDB twin all pass; oracle hash-green at both
    SFs)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("nxt", F.lead("event_type").over(w_user))
        .filter(F.col("nxt").isNotNull())
        .groupBy(
            F.col("event_type").alias("src"), F.col("nxt").alias("dst")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rows = pairs.groupBy("src").agg(F.sum("cnt").alias("row_n"))
    mat = pairs.join(rows, "src")
    # ONE row each: the |types|^2 edge list and the sorted node list.
    # collect_list order is nondeterministic but every consumer below
    # is an order-free integer sum, and the node axis is array_sort'ed.
    edges_row = mat.groupBy().agg(
        F.expr("collect_list(struct(src, dst, cnt, row_n)) AS edges")
    )
    nodes_row = (
        ev.select(F.col("event_type").alias("node"))
        .distinct()
        .groupBy()
        .agg(F.expr("array_sort(collect_list(node)) AS ns"))
    )
    # 1-row x 1-row cartesian (allowlisted in tests/test_plan_audit.py
    # — the scalar-broadcast pattern every bounded readout uses).
    base = nodes_row.crossJoin(F.broadcast(edges_row))
    # x0: uniform pico mass.  transform over an EMPTY ns never
    # evaluates the lambda, so the zero-node corpus degenerates to
    # zero output rows exactly like the old nodes-frame form.  The 12
    # steps are ONE fold over sequence(1, 12) with the mass vector x
    # as the accumulator lambda variable — evaluated once per step by
    # construction (see docstring).
    x0 = f"transform(ns, n -> CAST({_MSTAT_GRID} DIV size(ns) AS BIGINT))"
    step = (
        "(x, it) -> transform(ns, n -> aggregate("
        "  filter(edges, e -> e.dst = n),"
        "  CAST(0 AS BIGINT),"
        "  (acc, e) -> acc + CAST(CAST("
        "    element_at(x, CAST(array_position(ns, e.src) AS INT))"
        "    AS DECIMAL(38,0)) * e.cnt DIV e.row_n AS BIGINT)))"
    )
    cur = base.selectExpr(
        "ns",
        f"aggregate(sequence(1, {_MSTAT_ITERS}), {x0}, {step}) AS x",
    )
    return (
        cur.select(F.explode(F.arrays_zip("ns", "x")).alias("z"))
        .select(
            F.col("z.ns").alias("event_type"),
            F.col("z.x").cast("long").alias("stationary_pico"),
        )
        .orderBy("event_type")
    )


def _mstat_sql_iteration(prev: str, out: str) -> str:
    return f"""{out} AS (
  SELECT n.node,
         CAST(coalesce(infl.inflow, 0) AS BIGINT) AS mass
  FROM nodes n LEFT JOIN (
    SELECT m.dst AS node,
           CAST(sum((CAST(p.mass AS HUGEINT) * m.cnt) // m.row_n)
                AS BIGINT) AS inflow
    FROM mat m JOIN {prev} p ON p.node = m.src
    GROUP BY 1
  ) infl ON infl.node = n.node
)"""


_MSTAT_SQL_ITERS = ",\n".join(
    _mstat_sql_iteration(f"x{i}", f"x{i + 1}") for i in range(_MSTAT_ITERS)
)

SQL_EVENTS_MARKOV_STATIONARY = f"""
WITH ev AS (
  SELECT user_id, event_type, ts, event_id FROM events
),
seq AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS dst
  FROM ev
),
pairs AS (
  SELECT src, dst, count(*) AS cnt FROM seq WHERE dst IS NOT NULL
  GROUP BY 1, 2
),
rows_ AS (SELECT src, sum(cnt) AS row_n FROM pairs GROUP BY 1),
mat AS (SELECT p.src, p.dst, p.cnt, r.row_n FROM pairs p JOIN rows_ r USING (src)),
nodes AS (SELECT DISTINCT event_type AS node FROM ev),
kk AS (SELECT count(*) AS k FROM nodes),
x0 AS (
  SELECT node, CAST({_MSTAT_GRID} // k AS BIGINT) AS mass
  FROM nodes, kk
),
{_MSTAT_SQL_ITERS}
SELECT node AS event_type,
       CAST(mass AS BIGINT) AS stationary_pico
FROM x{_MSTAT_ITERS}
ORDER BY event_type
"""


QUERIES: dict[str, QuerySpec] = {
    "join_bitemporal_asof": QuerySpec(
        q_join_bitemporal_asof, SQL_JOIN_BITEMPORAL_ASOF
    ),
    "join_interpolate_linear": QuerySpec(
        q_join_interpolate_linear, SQL_JOIN_INTERPOLATE_LINEAR
    ),
    "window_rolling_median": QuerySpec(
        q_window_rolling_median, SQL_WINDOW_ROLLING_MEDIAN
    ),
    "sample_pps_systematic": QuerySpec(
        q_sample_pps_systematic, SQL_SAMPLE_PPS_SYSTEMATIC
    ),
    "events_haar_energy": QuerySpec(
        q_events_haar_energy, SQL_EVENTS_HAAR_ENERGY
    ),
    "events_markov_stationary": QuerySpec(
        q_events_markov_stationary, SQL_EVENTS_MARKOV_STATIONARY
    ),
}
