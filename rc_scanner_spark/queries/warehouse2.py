"""Round-5 warehouse / time-series / graph additions: CDC snapshot
diff, rolling distinct-user windows, EWMA smoothing, hopping windows,
triangle counting + link prediction on the co-purchase graph, fuzzy
entity resolution, arg-max aggregation, window-frame coverage,
join-key skew diagnostics, per-group quantiles, period-over-period
growth, cumulative adoption, conversion latency, interval-overlap
peak concurrency, FILTER-clause aggregates, null-safe joins, and MAD
robust anomaly detection.

Why these belong in a 100 TB training-data engine: corpus refreshes
are snapshot diffs, rolling actives / EWMA / MAD are the monitoring
primitives a continuously-ingesting pipeline alarms on, hopping
windows are the batch twin of streaming window(ts, w, slide), the
graph queries diagnose dup-cluster topology, and the skew profile is
the pre-salting decision input.

Shared scale discipline (per-query notes on each builder):
  * range/band joins re-expressed as explode + equi-shuffles;
  * running sums via hierarchical prefix (day base + partitioned
    within-day window) — no unpartitioned window anywhere;
  * money through integer cents, rates through integer ppm, medians
    rank-selected — no float round-tie boundaries at any scale;
  * frames referenced more than once are persisted.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import QuerySpec, load_tuned


_t = load_tuned


# --------------------------------------------------------------------
# CDC snapshot diff
# --------------------------------------------------------------------

# Old snapshot = orders before _CDC_OLD_END; new snapshot = orders
# before _CDC_NEW_END with deterministic simulated churn (the testdata
# has no real updates): keys % 97 == 3 are deleted, keys % 7 == 0 get
# a 10% price bump.  The *mechanism* under test is the diff plan.
_CDC_OLD_END = "1999-01-01"
_CDC_NEW_END = "2000-01-01"


def q_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture between two table snapshots: full-outer
    join on the primary key, classify each key as insert / delete /
    update (value drift on the compared columns), emit only the drift
    rows — the audit feed a MERGE would consume.

    Scale: one full-outer shuffle join co-partitioned on o_orderkey;
    unchanged keys (the overwhelming majority at 100 TB) are dropped
    before any further processing.  Column pruning keeps the compare
    set to (key, price, status).

    Determinism: prices go through integer cents (floor(x*100 + 0.5))
    and the 10% bump is integer division on cents, so both engines do
    exact integer arithmetic with no round() tie boundary."""
    o = _t(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    old = o.filter(F.col("o_orderdate") < F.lit(_CDC_OLD_END)).select(
        "o_orderkey",
        (cents / 100.0).alias("old_price"),
        F.col("o_orderstatus").alias("old_status"),
    )
    new = (
        o.filter(
            (F.col("o_orderdate") < F.lit(_CDC_NEW_END))
            & (F.col("o_orderkey") % 97 != 3)
        )
        .select(
            "o_orderkey",
            (
                F.when(
                    F.col("o_orderkey") % 7 == 0,
                    cents + F.floor(cents / 10).cast("long"),
                ).otherwise(cents)
                / 100.0
            ).alias("new_price"),
            F.col("o_orderstatus").alias("new_status"),
        )
    )
    j = old.join(new, "o_orderkey", "full_outer")
    return (
        j.select(
            "o_orderkey",
            F.when(F.col("old_price").isNull(), F.lit("insert"))
            .when(F.col("new_price").isNull(), F.lit("delete"))
            .when(
                (F.col("old_price") != F.col("new_price"))
                | (F.col("old_status") != F.col("new_status")),
                F.lit("update"),
            )
            .alias("action"),
            "old_price",
            "new_price",
        )
        .filter(F.col("action").isNotNull())
    )


SQL_CDC_SNAPSHOT_DIFF = f"""
WITH c AS (
  SELECT *, CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
  FROM orders
),
old AS (
  SELECT o_orderkey, cents / 100.0 AS old_price,
         o_orderstatus AS old_status
  FROM c WHERE o_orderdate < TIMESTAMP '{_CDC_OLD_END}'
),
new AS (
  SELECT o_orderkey,
         (CASE WHEN o_orderkey % 7 = 0
               THEN cents + CAST(floor(cents / 10.0) AS BIGINT)
               ELSE cents END) / 100.0 AS new_price,
         o_orderstatus AS new_status
  FROM c
  WHERE o_orderdate < TIMESTAMP '{_CDC_NEW_END}' AND o_orderkey % 97 <> 3
)
SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey,
       CASE WHEN old_price IS NULL THEN 'insert'
            WHEN new_price IS NULL THEN 'delete'
            WHEN old_price <> new_price OR old_status <> new_status
                 THEN 'update' END AS action,
       old_price, new_price
FROM old FULL OUTER JOIN new USING (o_orderkey)
WHERE CASE WHEN old_price IS NULL THEN 'insert'
           WHEN new_price IS NULL THEN 'delete'
           WHEN old_price <> new_price OR old_status <> new_status
                THEN 'update' END IS NOT NULL
"""


# --------------------------------------------------------------------
# Rolling 7-day distinct active users
# --------------------------------------------------------------------


def q_events_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct-user count per calendar day (the "WAU"
    monitoring curve).  COUNT(DISTINCT) over a RANGE frame is not
    windowable in either engine, and a day-band range join plans as a
    nested loop — so each (user, day) activity contributes itself to
    the 7 target days it covers via explode(sequence), turning the
    whole thing into ONE equi-shuffle + distinct count.

    Scale: activity is day-deduplicated first (|users| x |days| upper
    bound), the x7 explode is on that reduced frame, and the final
    count_distinct is a standard two-phase partial aggregation."""
    ev = _t(spark, sf_dir, "events")
    du = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    bounds = ev.agg(
        F.to_date(F.min("ts")).alias("mn"), F.to_date(F.max("ts")).alias("mx")
    )
    contrib = du.select(
        "user_id",
        F.explode(
            F.sequence("day", F.date_add("day", 6))
        ).alias("target_day"),
    )
    return (
        contrib.join(
            F.broadcast(bounds),
            (F.col("target_day") >= F.col("mn"))
            & (F.col("target_day") <= F.col("mx")),
        )
        .groupBy(
            # DATE crosses the compare boundary differently per engine
            # (python date vs datetime64); emit the ISO string.
            F.date_format("target_day", "yyyy-MM-dd").alias("day")
        )
        .agg(F.count_distinct("user_id").alias("n_active_7d"))
    )


SQL_EVENTS_ROLLING_ACTIVE_USERS = """
WITH du AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
b AS (
  SELECT CAST(min(ts) AS DATE) AS mn, CAST(max(ts) AS DATE) AS mx
  FROM events
),
contrib AS (
  SELECT du.user_id, du.day + g.o::INT AS target_day
  FROM du CROSS JOIN (SELECT unnest(range(0, 7)) AS o) g
)
SELECT strftime(c.target_day, '%Y-%m-%d') AS day,
       count(DISTINCT c.user_id) AS n_active_7d
FROM contrib c JOIN b ON c.target_day BETWEEN b.mn AND b.mx
GROUP BY 1
"""


# --------------------------------------------------------------------
# EWMA smoothing of daily event counts
# --------------------------------------------------------------------

_EWMA_DECAY = 0.7
_EWMA_HORIZON = 7  # trailing days contributing (j = 0..6)
# decay weights precomputed in PYTHON as integer nano-units and
# embedded as identical literals on both sides (PARITY.md #9): engine
# pow() is not guaranteed identically rounded across JVM/libm
_EWMA_W_NANO = tuple(
    int(round(_EWMA_DECAY**j * 1e9)) for j in range(_EWMA_HORIZON)
)


def filled_day_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-filled (event_type, day, cnt) daily-count spine over the
    full calendar span — the shared builder for every time-series op
    (EWMA, Holt, backtest, peaks, drawdown).  The spine explode is
    bounded (days x types); the broadcast bounds scalar is the one
    cartesian."""
    from . import load_tuned

    ev = load_tuned(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    bounds = ev.agg(
        F.to_date(F.min("ts")).alias("mn"), F.to_date(F.max("ts")).alias("mx")
    )
    spine = bounds.select(
        F.explode(F.sequence("mn", "mx")).alias("day")
    ).crossJoin(ev.select("event_type").distinct())
    return spine.join(daily, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("cnt", F.lit(0)).alias("cnt")
    )


# the DuckDB twin of filled_day_spine: bounds/spine/daily/filled CTE
# bodies (callers embed inside WITH and read from `filled`)
SQL_DAY_SPINE_CTE = """bounds AS (
  SELECT CAST(min(ts) AS DATE) AS mn, CAST(max(ts) AS DATE) AS mx
  FROM events
),
spine AS (
  SELECT t.event_type, d.day
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (
    SELECT unnest(generate_series(mn, mx, INTERVAL 1 DAY))::DATE AS day
    FROM bounds
  ) d
),
daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
filled AS (
  SELECT s.event_type, s.day, COALESCE(d.cnt, 0) AS cnt
  FROM spine s LEFT JOIN daily d
    ON d.event_type = s.event_type AND d.day = s.day
)"""


def q_events_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finite-horizon EWMA of daily event counts per event_type:
    ewma(d) = sum_j decay^j * count(d-j) / sum_j decay^j over the
    trailing 7 days, on a zero-filled calendar spine (a gap day pulls
    the average down, as a monitoring curve should).

    Scale: raw events collapse to the (type, day) spine first (a
    bounded frame — days x types), and the horizon explode runs on
    that spine, never on events.  Both engines compute the identical
    double expression; output rounded to 4."""
    # shared zero-filled spine (finding: this query re-implemented the
    # builder its own docstring names as the shared site) + INTEGER
    # nano-unit weights precomputed in Python (engine pow() is only
    # 1-ulp-accurate and float term sums are order-dependent —
    # PARITY.md #9/#10; review r8 round 6): the weighted sums are
    # exact integers, the only float is one final division + floor.
    filled = filled_day_spine(spark, sf_dir)
    mxf = filled.agg(F.max("day").alias("mx"))
    warr = F.array(*[F.lit(w) for w in _EWMA_W_NANO])
    contrib = (
        filled.crossJoin(F.broadcast(mxf))
        .select(
            "event_type",
            "cnt",
            "mx",
            F.explode(
                F.sequence(F.lit(0), F.lit(_EWMA_HORIZON - 1))
            ).alias("j"),
            F.col("day").alias("src_day"),
        )
        .select(
            "event_type",
            F.date_add("src_day", F.col("j")).alias("day"),
            "mx",
            # operand decimal cast: w_nano * cnt passes 2^63 for a
            # 1e10-event day at design scale
            (
                F.element_at(warr, F.col("j") + 1).cast("decimal(19,0)")
                * F.col("cnt")
            ).alias("wc"),
            F.element_at(warr, F.col("j") + 1).alias("wn"),
        )
    )
    return (
        contrib.filter(F.col("day") <= F.col("mx"))
        .groupBy(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
        )
        .agg(
            (
                F.floor(
                    F.sum("wc").cast("double")
                    / F.sum("wn").cast("double")
                    * 10000
                    + 0.5
                )
                / 10000.0
            ).alias("ewma"),
        )
    )


SQL_EVENTS_EWMA_SMOOTH = f"""
WITH {SQL_DAY_SPINE_CTE},
wj AS (SELECT unnest(range(0, {_EWMA_HORIZON})) AS j,
              unnest({list(_EWMA_W_NANO)}) AS wn),
contrib AS (
  SELECT f.event_type, f.day + wj.j::INT AS day,
         CAST(wj.wn AS HUGEINT) * f.cnt AS wc, wj.wn
  FROM filled f CROSS JOIN wj
)
SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
       floor(CAST(sum(wc) AS DOUBLE) / CAST(sum(wn) AS DOUBLE)
             * 10000 + 0.5) / 10000.0 AS ewma
FROM contrib WHERE day <= (SELECT mx FROM bounds)
GROUP BY 1, 2
"""


# --------------------------------------------------------------------
# Hopping (sliding) time windows
# --------------------------------------------------------------------


def q_time_window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping event-time windows (1 h width, 30 min slide) via
    ``F.window(ts, w, slide)`` — the batch twin of the streaming
    sliding-window aggregation.  Each event lands in width/slide = 2
    windows; the explode happens JVM-side inside the window operator.

    Scale: state per open window is one partial-agg row; the plan is
    a single hash aggregation keyed on (window, event_type)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            # integer cents before the sum (PARITY.md #10/#26): a raw
            # double sum feeding round(,2) is an accumulation-order
            # coin flip across engines/partitionings at scale
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5))
                .cast("long")
                .cast("decimal(38,0)")
            ).alias("tc"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n",
            (F.col("tc").cast("double") / 100.0).alias("total_value"),
        )
    )


SQL_TIME_WINDOW_SLIDING = """
WITH assigned AS (
  SELECT e.event_type, e.value, w.window_start
  FROM events e,
       LATERAL (SELECT unnest([
           CAST(to_timestamp(floor(epoch(e.ts) / 1800) * 1800)
                AS TIMESTAMP),
           CAST(to_timestamp(floor(epoch(e.ts) / 1800) * 1800 - 1800)
                AS TIMESTAMP)]) AS window_start) w
  WHERE e.ts >= w.window_start
    AND e.ts < w.window_start + INTERVAL 1 HOUR
)
SELECT window_start, event_type, count(*) AS n,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
           / 100.0 AS total_value
FROM assigned GROUP BY 1, 2
"""


# --------------------------------------------------------------------
# Triangle counting on the co-purchase graph
# --------------------------------------------------------------------

_TRI_MAX_ORDER = 10  # drop mega-orders before pairing (fan-out guard)
_TRI_MIN_SUPPORT = 2  # edge = pair co-occurring in >= 2 orders


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-pruned oriented co-purchase edge frame (pa < pb),
    shared by triangle counting and link prediction.  Persisted; a
    long-lived session releases it with operators/dedup.release_caches
    (Spark's cache manager is the only record of it)."""

    # r14: one width-pinned exchange by order key up front; hash on
    # l_orderkey satisfies the clustering needs of the (order, part)
    # distinct, the size groupBy, the cap join AND the per-order
    # self-join below, so the planner adds no Exchange until the pair
    # aggregate — and AQE byte-coalescing cannot serialize the
    # CPU-dense per-order pair expansion (capped_baskets precedent).
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition(
            spark.sparkContext.defaultParallelism, "l_orderkey"
        )
        .distinct()
    )
    ok = (
        li.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") <= _TRI_MAX_ORDER)
        .select("l_orderkey")
    )
    li2 = li.join(ok, "l_orderkey")
    a = li2.alias("a")
    b = li2.alias("b")
    edges = (
        a.join(b, "l_orderkey")
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("pa"),
            F.col("b.l_partkey").alias("pb"),
        )
        .agg(F.count(F.lit(1)).alias("s"))
        .filter(F.col("s") >= _TRI_MIN_SUPPORT)
        .select("pa", "pb")
    )
    return edges.persist()


_SQL_EDGES_CTE = f"""li AS (
  SELECT l_orderkey, l_partkey FROM lineitem GROUP BY 1, 2
),
ok AS (
  SELECT l_orderkey FROM li GROUP BY 1
  HAVING count(*) <= {_TRI_MAX_ORDER}
),
li2 AS (SELECT li.* FROM li JOIN ok USING (l_orderkey)),
edges AS (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb
  FROM li2 a JOIN li2 b USING (l_orderkey)
  WHERE a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {_TRI_MIN_SUPPORT}
)"""


def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation on the part co-purchase graph
    (edges = part pairs co-occurring in >= 2 small orders).  The
    standard oriented enumeration: every triangle a<b<c is found
    exactly once via e(a,b) |><| e(b,c) |><| e(a,c).

    Scale: the support threshold and the max-order guard prune the
    edge set BEFORE the two triangle joins (the same basket hygiene
    as basket_part_pairs); orientation (pa < pb) makes each join a
    plain equi-join with no duplicate enumeration to dedup after.
    The edge frame is persisted (released by
    operators/dedup.release_caches) because the enumeration references
    it three times; AQE exchange reuse is not guaranteed across
    differently-keyed consumers."""
    edges = _copurchase_edges(spark, sf_dir)
    e1 = edges.alias("e1")
    e2 = edges.alias("e2")
    e3 = edges.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.pb") == F.col("e2.pa"))
        .join(
            e3,
            (F.col("e3.pa") == F.col("e1.pa"))
            & (F.col("e3.pb") == F.col("e2.pb")),
        )
        .select(
            F.col("e1.pa").alias("x"),
            F.col("e1.pb").alias("y"),
            F.col("e2.pb").alias("z"),
        )
    )
    nodes = tri.select(
        F.explode(F.array("x", "y", "z")).alias("part")
    )
    return nodes.groupBy("part").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


SQL_GRAPH_TRIANGLE_COUNT = f"""
WITH {_SQL_EDGES_CTE},
tri AS (
  SELECT e1.pa AS x, e1.pb AS y, e2.pb AS z
  FROM edges e1
  JOIN edges e2 ON e1.pb = e2.pa
  JOIN edges e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
),
nodes AS (
  SELECT unnest([x, y, z]) AS part FROM tri
)
SELECT part, count(*) AS n_triangles FROM nodes GROUP BY 1
"""


QUERIES: dict[str, QuerySpec] = {
    "cdc_snapshot_diff": QuerySpec(q_cdc_snapshot_diff, SQL_CDC_SNAPSHOT_DIFF),
    "events_rolling_active_users": QuerySpec(
        q_events_rolling_active_users, SQL_EVENTS_ROLLING_ACTIVE_USERS
    ),
    "events_ewma_smooth": QuerySpec(
        q_events_ewma_smooth, SQL_EVENTS_EWMA_SMOOTH
    ),
    "time_window_sliding": QuerySpec(
        q_time_window_sliding, SQL_TIME_WINDOW_SLIDING
    ),
    "graph_triangle_count": QuerySpec(
        q_graph_triangle_count, SQL_GRAPH_TRIANGLE_COUNT
    ),
}


# --------------------------------------------------------------------
# arg-max/arg-min aggregation (max_by / min_by surface)
# --------------------------------------------------------------------


def q_agg_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment arg-max/arg-min via ``max_by``/``min_by`` with a
    composite (value, key) ordering struct — the deterministic form
    (a bare max_by(x, value) is free to pick either row on value
    ties; pairing the tiebreak key into the ordering struct pins it).

    Scale: a single partial+final hash aggregation — max_by carries
    one candidate row per group per partition, identical cost to
    max()."""
    c = _t(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long")
    base = c.select(
        "c_mktsegment", "c_custkey", cents.alias("bal_cents")
    )
    return base.groupBy("c_mktsegment").agg(
        F.expr(
            "max_by(c_custkey, struct(bal_cents, c_custkey))"
        ).alias("richest_cust"),
        F.max("bal_cents").alias("max_bal_cents"),
        F.expr(
            "min_by(c_custkey, struct(bal_cents, -c_custkey))"
        ).alias("poorest_cust"),
        F.min("bal_cents").alias("min_bal_cents"),
    )


SQL_AGG_ARGMAX = """
SELECT c_mktsegment,
       max({'b': bal_cents, 'k': c_custkey}).k AS richest_cust,
       max(bal_cents) AS max_bal_cents,
       -(min({'b': bal_cents, 'k': -c_custkey}).k) AS poorest_cust,
       min(bal_cents) AS min_bal_cents
FROM (
  SELECT c_mktsegment, c_custkey,
         CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_cents
  FROM customer
)
GROUP BY 1
"""


# --------------------------------------------------------------------
# first_value / last_value / nth_value with explicit frames
# --------------------------------------------------------------------


def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user first/last/second event via first_value, last_value,
    and nth_value over an unbounded frame with a deterministic
    (ts, event_id) ordering — last_value is the classic frame trap:
    the default frame ends at CURRENT ROW, so the explicit UNBOUNDED
    FOLLOWING bound is required for "last in partition" semantics.

    Scale: per-user partitions — bounded frames, no global window."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    out = ev.select(
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
    ).distinct()
    return out


SQL_WINDOW_FIRST_LAST = """
SELECT DISTINCT user_id,
       first_value(event_type) OVER w AS first_type,
       last_value(event_type) OVER w AS last_type,
       nth_value(event_type, 2) OVER w AS second_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


QUERIES["agg_argmax"] = QuerySpec(q_agg_argmax, SQL_AGG_ARGMAX)
QUERIES["window_first_last"] = QuerySpec(
    q_window_first_last, SQL_WINDOW_FIRST_LAST
)


# --------------------------------------------------------------------
# Join-key skew diagnostics
# --------------------------------------------------------------------


def q_profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile for orders.o_custkey — the diagnostic
    that decides whether a join needs salting / AQE skew handling
    before you burn a cluster finding out: distinct key count, max
    per-key frequency, exact interpolated p50/p99 frequencies, and
    the max/p50 skew ratio.

    Scale: one partial+final count per key, then ONE single-row
    aggregate over the per-key frame (frequencies, not raw rows);
    exact percentile over that frame is a bounded sort-merge of
    per-partition partials — no global window, no driver collect of
    keys.  Both engines use the same interpolated-quantile formula
    (Spark percentile == DuckDB quantile_cont)."""
    o = _t(spark, sf_dir, "orders")
    freq = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("freq"))
    return freq.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("freq").alias("max_freq"),
        F.round(F.expr("percentile(freq, 0.5)"), 4).alias("p50_freq"),
        F.round(F.expr("percentile(freq, 0.99)"), 4).alias("p99_freq"),
        F.round(
            F.max("freq") / F.expr("percentile(freq, 0.5)"), 4
        ).alias("skew_ratio"),
    )


SQL_PROFILE_KEY_SKEW = """
WITH freq AS (
  SELECT o_custkey, count(*) AS freq FROM orders GROUP BY 1
)
SELECT count(*) AS n_keys,
       max(freq) AS max_freq,
       round(quantile_cont(freq, 0.5), 4) AS p50_freq,
       round(quantile_cont(freq, 0.99), 4) AS p99_freq,
       round(max(freq) / quantile_cont(freq, 0.5), 4) AS skew_ratio
FROM freq
"""


QUERIES["profile_key_skew"] = QuerySpec(q_profile_key_skew, SQL_PROFILE_KEY_SKEW)


# --------------------------------------------------------------------
# Exact per-group quantiles
# --------------------------------------------------------------------


def q_agg_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated p25/p50/p95 of event value per event_type in
    ONE hash aggregate — the per-group distribution profile behind
    anomaly thresholds and SLA dashboards.  Exact ``percentile`` (not
    approx) so the DuckDB twin (quantile_cont, same interpolation
    formula) agrees on the rounded values.

    Scale: percentile is a sort-based typed-imperative aggregate —
    per-group partials merge map-side; the approx_percentile variant
    (agg_percentile_approx) is the fixed-memory path when groups are
    huge."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.expr("percentile(value, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
    )


SQL_AGG_GROUP_QUANTILES = """
SELECT event_type, count(*) AS n,
       round(quantile_cont(value, 0.25), 4) AS p25,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.95), 4) AS p95
FROM events GROUP BY 1
"""


QUERIES["agg_group_quantiles"] = QuerySpec(
    q_agg_group_quantiles, SQL_AGG_GROUP_QUANTILES
)


# --------------------------------------------------------------------
# Fuzzy entity resolution (blocked edit-distance join)
# --------------------------------------------------------------------

_ER_MAX_DIST = 2
_ER_LEN_BUCKET = 4  # name-length band width for blocking


def q_er_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate string join: resolve "dirty" part names (every 10th
    part with one deterministically-deleted character — the testdata
    has no real typos, so churn is synthesized the same way in both
    engines) back to the clean catalog via blocked Levenshtein.

    Blocking: (first char, length-band) equi-keys, with the dirty side
    exploding its band +-1 so a one-char deletion can't fall out of
    the band — turns the quadratic all-pairs distance scan into an
    equi-join over bounded blocks.  A first-char typo escapes its
    block: the standard documented recall trade-off of prefix
    blocking (swap in a phonetic key for higher recall).

    Best match per dirty name = min(struct(distance, partkey)) — an
    aggregate, not a window."""
    p = _t(spark, sf_dir, "part")
    dirty = (
        p.filter(F.col("p_partkey") % 10 == 0)
        .select(
            F.col("p_partkey").alias("dirty_key"),
            F.concat(
                F.expr(
                    "substring(p_name, 1, cast(p_partkey % length(p_name) as int))"
                ),
                F.expr(
                    "substring(p_name, cast(p_partkey % length(p_name) as int) + 2, length(p_name))"
                ),
            ).alias("dname"),
        )
    )
    # r14: the clean side broadcasts, so the whole blocked-Levenshtein
    # pipeline fuses into the dirty side's scan — ONE task (the part
    # file is a single row group), 4.3 s of edit-distance CPU at
    # sf0.1.  A width-pinned repartition of the (tiny) dirty name
    # list spreads the candidate scoring across the session's cores;
    # AQE cannot coalesce a user repartition.
    dirty = dirty.repartition(
        spark.sparkContext.defaultParallelism, "dirty_key"
    )
    dblocked = dirty.select(
        "dirty_key",
        "dname",
        F.substring("dname", 1, 1).alias("c1"),
        F.explode(
            F.array(
                F.floor(F.length("dname") / _ER_LEN_BUCKET) - 1,
                F.floor(F.length("dname") / _ER_LEN_BUCKET),
                F.floor(F.length("dname") / _ER_LEN_BUCKET) + 1,
            )
        ).alias("bucket"),
    )
    clean = p.select(
        F.col("p_partkey").alias("clean_key"),
        F.col("p_name").alias("cname"),
        F.substring("p_name", 1, 1).alias("c1"),
        F.floor(F.length("p_name") / _ER_LEN_BUCKET).alias("bucket"),
    )
    # r14 batch 6: bounded edit distance (Spark 3.5+ threshold form).
    # levenshtein(a, b, t) runs the banded DP — O(len x t) instead of
    # O(len^2) per pair, with an |len(a)-len(b)| > t early exit — and
    # returns the EXACT distance when it is <= t, else -1.  The old
    # filter kept exactly the dist <= t rows, so `dist >= 0` keeps the
    # identical row set with identical dist values; pairs the old form
    # scored only to discard now cost a length check + a narrow band.
    cand = dblocked.join(clean, ["c1", "bucket"]).select(
        "dirty_key",
        "dname",
        "clean_key",
        F.levenshtein("dname", "cname", _ER_MAX_DIST).alias("dist"),
    )
    return (
        cand.filter(F.col("dist") >= 0)
        .groupBy("dirty_key", "dname")
        .agg(
            F.min(F.struct("dist", "clean_key")).alias("best"),
        )
        .select(
            "dirty_key",
            "dname",
            F.col("best.clean_key").alias("matched_key"),
            F.col("best.dist").alias("dist"),
        )
    )


SQL_ER_FUZZY_MATCH = f"""
WITH dirty AS (
  SELECT p_partkey AS dirty_key,
         substring(p_name, 1, CAST(p_partkey % length(p_name) AS INT))
         || substring(p_name,
                      CAST(p_partkey % length(p_name) AS INT) + 2,
                      length(p_name)) AS dname
  FROM part WHERE p_partkey % 10 = 0
),
dblocked AS (
  SELECT dirty_key, dname, substring(dname, 1, 1) AS c1,
         CAST(floor(length(dname) / {_ER_LEN_BUCKET}) AS BIGINT) + g.o
             AS bucket
  FROM dirty
  CROSS JOIN (SELECT unnest([-1, 0, 1]) AS o) g
),
clean AS (
  SELECT p_partkey AS clean_key, p_name AS cname,
         substring(p_name, 1, 1) AS c1,
         CAST(floor(length(p_name) / {_ER_LEN_BUCKET}) AS BIGINT) AS bucket
  FROM part
),
cand AS (
  SELECT d.dirty_key, d.dname, c.clean_key,
         levenshtein(d.dname, c.cname) AS dist
  FROM dblocked d JOIN clean c USING (c1, bucket)
),
best AS (
  SELECT dirty_key, dname,
         min({{'d': dist, 'k': clean_key}}) AS b
  FROM cand WHERE dist <= {_ER_MAX_DIST}
  GROUP BY 1, 2
)
SELECT dirty_key, dname, b.k AS matched_key, b.d AS dist FROM best
"""


QUERIES["er_fuzzy_match"] = QuerySpec(q_er_fuzzy_match, SQL_ER_FUZZY_MATCH)


# --------------------------------------------------------------------
# Period-over-period growth
# --------------------------------------------------------------------


def q_window_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week event volume per type: lag over a per-type
    window plus an integer-ppm growth rate ((cur - prev) * 1e6 DIV
    prev — integer-exact on both engines, no float round ties).

    Scale: the weekly rollup collapses events first (types x weeks
    rows); the lag window partitions per type — bounded frames."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window as W

    # Key on the week's START DATE, not weekofyear(): the bare ISO week
    # number collapses the same week of different years and folds the
    # Dec-29..31 ISO-week-1 spillover into January.
    weekly = (
        ev.groupBy(
            "event_type",
            F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias(
                "week_start"
            ),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("event_type").orderBy("week_start")
    return weekly.select(
        "event_type",
        "week_start",
        "n",
        F.lag("n").over(w).alias("prev_n"),
        F.expr(
            "CASE WHEN lag(n) OVER (PARTITION BY event_type ORDER BY"
            " week_start) IS NOT NULL THEN ((n - lag(n) OVER (PARTITION BY"
            " event_type ORDER BY week_start)) * 1000000) DIV lag(n) OVER"
            " (PARTITION BY event_type ORDER BY week_start) END"
        ).alias("growth_ppm"),
    )


SQL_WINDOW_PERIOD_OVER_PERIOD = """
WITH weekly AS (
  SELECT event_type,
         strftime(date_trunc('week', ts), '%Y-%m-%d') AS week_start,
         count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT event_type, week_start, n,
       lag(n) OVER w AS prev_n,
       CASE WHEN lag(n) OVER w IS NOT NULL
            THEN ((n - lag(n) OVER w) * 1000000) // lag(n) OVER w
       END AS growth_ppm
FROM weekly
WINDOW w AS (PARTITION BY event_type ORDER BY week_start)
"""


QUERIES["window_period_over_period"] = QuerySpec(
    q_window_period_over_period, SQL_WINDOW_PERIOD_OVER_PERIOD
)


# --------------------------------------------------------------------
# Cumulative distinct adoption curve
# --------------------------------------------------------------------


def q_events_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users through each day (the adoption
    curve): a user counts from their first-touch day onward.  The
    running sum over days is expressed as a triangle join on the
    BOUNDED day frame (first-touch counts per day x day spine), not a
    global unpartitioned window — at 100 TB the day frame is still
    just one row per calendar day.

    Scale: first-touch = one groupBy(user) min; everything after
    operates on #days-sized frames."""
    ev = _t(spark, sf_dir, "events")
    firsts = (
        ev.groupBy("user_id")
        .agg(F.to_date(F.min("ts")).alias("first_day"))
        .groupBy("first_day")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    spine = ev.agg(
        F.to_date(F.min("ts")).alias("mn"), F.to_date(F.max("ts")).alias("mx")
    ).select(F.explode(F.sequence("mn", "mx")).alias("day"))
    return (
        spine.join(
            F.broadcast(firsts), F.col("first_day") <= F.col("day")
        )
        .groupBy(F.date_format("day", "yyyy-MM-dd").alias("day"))
        .agg(F.sum("n_new").alias("cum_users"))
    )


SQL_EVENTS_CUMULATIVE_DISTINCT = """
WITH firsts AS (
  SELECT first_day, count(*) AS n_new
  FROM (
    SELECT user_id, CAST(min(ts) AS DATE) AS first_day
    FROM events GROUP BY 1
  ) GROUP BY 1
),
b AS (
  SELECT CAST(min(ts) AS DATE) AS mn, CAST(max(ts) AS DATE) AS mx
  FROM events
),
spine AS (
  SELECT unnest(generate_series(b.mn, b.mx, INTERVAL 1 DAY))::DATE AS day
  FROM b
)
SELECT strftime(s.day, '%Y-%m-%d') AS day,
       CAST(sum(f.n_new) AS BIGINT) AS cum_users
FROM spine s JOIN firsts f ON f.first_day <= s.day
GROUP BY 1
"""


QUERIES["events_cumulative_distinct"] = QuerySpec(
    q_events_cumulative_distinct, SQL_EVENTS_CUMULATIVE_DISTINCT
)


# --------------------------------------------------------------------
# Link prediction via common-neighbor Jaccard
# --------------------------------------------------------------------

_LINK_TOPK = 20


def q_graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor Jaccard link prediction on the co-purchase
    graph: for node pairs NOT already connected, score = |N(a) n N(c)|
    / |N(a) u N(c)|; top-20 predicted links.  The wedge enumeration
    e(a,b) |><| e(b,c) reuses the triangle machinery; existing edges
    are removed with an anti-join.

    Scale: reuses the SAME support-pruned persisted edge frame as
    graph_triangle_count (one builder, one cache); wedges are bounded
    by sum(deg^2) over the pruned graph; top-k is
    TakeOrderedAndProject.  Scores are integer ppm (no float round
    ties)."""
    edges = _copurchase_edges(spark, sf_dir)
    # undirected adjacency (both orientations) for wedges + degrees
    und = edges.union(
        edges.select(F.col("pb").alias("pa"), F.col("pa").alias("pb"))
    )
    deg = und.groupBy(F.col("pa").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    w1 = und.alias("w1")
    w2 = und.alias("w2")
    wedges = (
        w1.join(w2, F.col("w1.pb") == F.col("w2.pa"))
        .filter(F.col("w1.pa") < F.col("w2.pb"))
        .groupBy(
            F.col("w1.pa").alias("x"), F.col("w2.pb").alias("y")
        )
        .agg(F.count(F.lit(1)).alias("cn"))
    )
    open_pairs = wedges.join(
        edges,
        (F.col("x") == F.col("pa")) & (F.col("y") == F.col("pb")),
        "left_anti",
    )
    # NO broadcast hint on deg: it has one row per surviving node — a
    # data-sized frame, not a bounded dimension; a forced broadcast
    # OOMs at the 1e8-node design scale where a shuffled equi-join
    # works (AQE still auto-broadcasts when it actually fits).
    # (review r8 round 6)
    da = deg.alias("da")
    dc = deg.alias("dc")
    return (
        open_pairs.join(da, F.col("x") == F.col("da.node"))
        .join(dc, F.col("y") == F.col("dc.node"))
        .select(
            "x",
            "y",
            "cn",
            F.expr(
                "(1000000 * cn) DIV (da.deg + dc.deg - cn)"
            ).alias("jaccard_ppm"),
        )
        .orderBy(F.desc("jaccard_ppm"), "x", "y")
        .limit(_LINK_TOPK)
    )


SQL_GRAPH_LINK_PREDICTION = f"""
WITH {_SQL_EDGES_CTE},
und AS (
  SELECT pa, pb FROM edges
  UNION ALL SELECT pb AS pa, pa AS pb FROM edges
),
deg AS (SELECT pa AS node, count(*) AS deg FROM und GROUP BY 1),
wedges AS (
  SELECT w1.pa AS x, w2.pb AS y, count(*) AS cn
  FROM und w1 JOIN und w2 ON w1.pb = w2.pa
  WHERE w1.pa < w2.pb
  GROUP BY 1, 2
),
open_pairs AS (
  SELECT w.* FROM wedges w
  ANTI JOIN edges e ON w.x = e.pa AND w.y = e.pb
)
SELECT o.x, o.y, o.cn,
       (1000000 * o.cn) // (da.deg + dc.deg - o.cn) AS jaccard_ppm
FROM open_pairs o
JOIN deg da ON da.node = o.x
JOIN deg dc ON dc.node = o.y
ORDER BY jaccard_ppm DESC, x, y
LIMIT {_LINK_TOPK}
"""


QUERIES["graph_link_prediction"] = QuerySpec(
    q_graph_link_prediction, SQL_GRAPH_LINK_PREDICTION
)


# --------------------------------------------------------------------
# Conversion latency (view -> purchase)
# --------------------------------------------------------------------


def q_event_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user view->purchase conversion latency and its exact
    quartiles: first view, first purchase AFTER that view, latency in
    seconds — the duration companion to event_funnel's counts.

    Scale: two conditional-min aggregates per user (one shuffle), a
    single-row quantile over converted users."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "first_view"
        ),
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .join(per_user, "user_id")
        .filter(
            F.col("first_view").isNotNull()
            & (F.col("ts") >= F.col("first_view"))
        )
        .groupBy("user_id", "first_view")
        .agg(F.min("ts").alias("first_purchase"))
    )
    # microsecond-exact on both engines (unix_timestamp truncates to
    # seconds while DuckDB's epoch()::BIGINT rounds — off-by-one traps)
    lat = purch.select(
        (
            (
                F.unix_micros("first_purchase")
                - F.unix_micros("first_view")
            )
            / 1000000.0
        ).alias("latency_s")
    )
    return lat.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.expr("percentile(latency_s, 0.25)"), 2).alias("p25_s"),
        F.round(F.expr("percentile(latency_s, 0.5)"), 2).alias("p50_s"),
        F.round(F.expr("percentile(latency_s, 0.75)"), 2).alias("p75_s"),
    )


SQL_EVENT_CONVERSION_LATENCY = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN ts END) AS first_view
  FROM events GROUP BY 1
),
purch AS (
  SELECT e.user_id, p.first_view, min(e.ts) AS first_purchase
  FROM events e JOIN per_user p USING (user_id)
  WHERE e.event_type = 'purchase' AND p.first_view IS NOT NULL
    AND e.ts >= p.first_view
  GROUP BY 1, 2
),
lat AS (
  SELECT (epoch_us(first_purchase) - epoch_us(first_view)) / 1000000.0
             AS latency_s
  FROM purch
)
SELECT count(*) AS n_converted,
       round(quantile_cont(latency_s, 0.25), 2) AS p25_s,
       round(quantile_cont(latency_s, 0.5), 2) AS p50_s,
       round(quantile_cont(latency_s, 0.75), 2) AS p75_s
FROM lat
"""


QUERIES["event_conversion_latency"] = QuerySpec(
    q_event_conversion_latency, SQL_EVENT_CONVERSION_LATENCY
)


# --------------------------------------------------------------------
# Peak concurrency via hierarchical prefix sum
# --------------------------------------------------------------------

_CONC_TTL_MIN = 30  # a user "session" spans [ts, ts + 30 min)


def q_events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent active sessions per day (a session = 30 min
    after each user's activity start, dedup to first event per user
    per day): the classic interval-overlap sweep, made scale-safe by a
    HIERARCHICAL prefix sum — +1/-1 deltas bucket to minutes, the
    running count = day-level prefix (one bounded frame of days)
    plus a within-day prefix (window PARTITIONED by day over <= 1440
    minute rows).  No unpartitioned window anywhere, which is how a
    global running sum survives 100 TB.

    (Sessions are approximated as fixed-TTL from the user's first
    event of the day — the mechanism under test is the sweep.)"""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    starts = (
        ev.groupBy("user_id", F.to_date("ts").alias("day"))
        .agg(F.min("ts").alias("t0"))
        .select(
            "user_id",
            F.date_trunc("minute", "t0").alias("m_start"),
            (
                F.date_trunc("minute", "t0")
                + F.expr(f"INTERVAL {_CONC_TTL_MIN} MINUTES")
            ).alias("m_end"),
        )
    )

    starts = starts.persist()  # two delta arms read it
    deltas = starts.select(
        F.col("m_start").alias("m"), F.lit(1).alias("d")
    ).unionAll(
        starts.select(F.col("m_end").alias("m"), F.lit(-1).alias("d"))
    )
    # Zero-delta sentinel at every observed day's midnight: without it
    # a day whose first own delta comes late never evaluates the count
    # carried over from the previous day (sessions crossing midnight),
    # and its peak is understated.
    midnights = (
        deltas.agg(
            F.to_date(F.min("m")).alias("mn"), F.to_date(F.max("m")).alias("mx")
        )
        .select(F.explode(F.sequence("mn", "mx")).alias("day"))
        .select(
            F.col("day").cast("timestamp").alias("m"), F.lit(0).alias("d")
        )
    )
    per_min = (
        deltas.unionAll(midnights)
        .groupBy("m")
        .agg(F.sum("d").alias("delta"))
        .select("m", F.to_date("m").alias("day"), "delta")
    )
    per_min = per_min.persist()  # window + day totals
    w_in_day = (
        W.partitionBy("day")
        .orderBy("m")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    within = per_min.withColumn(
        "run_in_day", F.sum("delta").over(w_in_day)
    )
    day_tot = per_min.groupBy("day").agg(
        F.sum("delta").alias("day_delta")
    )
    # day-level prefix: triangle join over the bounded day frame
    d1 = day_tot.alias("d1")
    d2 = day_tot.alias("d2")
    day_base = (
        d1.join(
            d2, F.col("d2.day") < F.col("d1.day"), "left"
        )
        .groupBy(F.col("d1.day").alias("day"))
        .agg(F.coalesce(F.sum("d2.day_delta"), F.lit(0)).alias("base"))
    )
    return (
        within.join(F.broadcast(day_base), "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            (F.col("base") + F.col("run_in_day")).alias("conc"),
        )
        .groupBy("day")
        .agg(F.max("conc").alias("peak_concurrency"))
    )


SQL_EVENTS_CONCURRENCY = f"""
WITH starts AS (
  SELECT user_id, date_trunc('minute', min(ts)) AS m_start,
         date_trunc('minute', min(ts)) + INTERVAL {_CONC_TTL_MIN} MINUTE
             AS m_end
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
deltas AS (
  SELECT m_start AS m, 1 AS d FROM starts
  UNION ALL SELECT m_end AS m, -1 AS d FROM starts
),
midnights AS (
  SELECT CAST(unnest(generate_series(CAST(min(m) AS DATE),
                                     CAST(max(m) AS DATE),
                                     INTERVAL 1 DAY)) AS TIMESTAMP) AS m,
         0 AS d
  FROM deltas
),
per_min AS (
  SELECT m, CAST(m AS DATE) AS day, sum(d) AS delta
  FROM (SELECT * FROM deltas UNION ALL SELECT * FROM midnights)
  GROUP BY 1, 2
),
run AS (
  SELECT day, m,
         sum(delta) OVER (ORDER BY m
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
  FROM per_min
)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(max(conc) AS BIGINT) AS peak_concurrency
FROM run GROUP BY 1
"""


QUERIES["events_concurrency"] = QuerySpec(
    q_events_concurrency, SQL_EVENTS_CONCURRENCY
)


# --------------------------------------------------------------------
# FILTER-clause aggregates
# --------------------------------------------------------------------


def q_agg_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation surface: count_if / sum-where / avg-
    where per event_type in one pass — the FILTER (WHERE ...) clause
    family, each a plain conditional partial aggregate (one shuffle,
    no per-condition scans)."""
    ev = _t(spark, sf_dir, "events")
    hi = F.col("value") > 0.5
    # integer quantization BEFORE the sums (PARITY.md #10/#26): a raw
    # double sum is accumulation-order-dependent, and round() on top
    # of it is a latent cross-engine coin flip at scale — cents for
    # the sum, micro-units + the floor idiom for the mean
    vc = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    vm = F.floor(F.col("value") * 1000000 + F.lit(0.5)).cast("long")
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("count_if(value > 0.5)").alias("n_hi"),
        F.sum(F.when(hi, vc).cast("decimal(38,0)")).alias("sc"),
        F.expr("count_if(value <= 0.5)").alias("n_lo"),
        F.sum(F.when(~hi, vm).cast("decimal(38,0)")).alias("sm"),
    )
    avg_lo = (
        F.floor(
            F.col("sm").cast("double")
            / F.col("n_lo")
            / 1000000.0
            * 10000
            + 0.5
        )
        / 10000.0
    )
    return agg.select(
        "event_type",
        "n",
        "n_hi",
        (F.col("sc").cast("double") / 100.0).alias("sum_hi"),
        F.when(F.col("n_lo") > 0, avg_lo).alias("avg_lo"),
    )


SQL_AGG_FILTERED = """
SELECT event_type, count(*) AS n,
       count(*) FILTER (WHERE value > 0.5) AS n_hi,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT))
            FILTER (WHERE value > 0.5) AS DOUBLE) / 100.0 AS sum_hi,
       CASE WHEN count(*) FILTER (WHERE value <= 0.5) > 0 THEN
         floor(CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT))
                    FILTER (WHERE value <= 0.5) AS DOUBLE)
               / count(*) FILTER (WHERE value <= 0.5)
               / 1000000.0 * 10000 + 0.5) / 10000.0
       END AS avg_lo
FROM events GROUP BY 1
"""


QUERIES["agg_filtered"] = QuerySpec(q_agg_filtered, SQL_AGG_FILTERED)


# --------------------------------------------------------------------
# Null-safe join semantics
# --------------------------------------------------------------------


def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): orders
    with a deterministically-nulled priority key join a priority
    dimension that includes a NULL row — under null-safe equality the
    NULL keys MATCH the NULL dim row instead of dropping, the subtle
    semantic every warehouse migration trips over.

    Scale: a plain equi-shuffle — Spark plans <=> as a hash join on
    the null-safe-wrapped key."""
    o = _t(spark, sf_dir, "orders")
    keyed = o.select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 11 != 0, F.col("o_orderpriority")).alias(
            "prio"
        ),
    )
    dim_rows = (
        o.select(F.col("o_orderpriority").alias("prio"))
        .distinct()
        .select("prio", F.length("prio").alias("prio_len"))
        .unionByName(
            o.sparkSession.createDataFrame(
                [(None, -1)], "prio string, prio_len int"
            )
        )
    )
    return (
        keyed.join(
            F.broadcast(dim_rows),
            keyed["prio"].eqNullSafe(dim_rows["prio"]),
        )
        .groupBy(dim_rows["prio"].alias("prio"), "prio_len")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


SQL_JOIN_NULL_SAFE = """
WITH keyed AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 <> 0 THEN o_orderpriority END AS prio
  FROM orders
),
dim AS (
  SELECT prio, length(prio) AS prio_len
  FROM (SELECT DISTINCT o_orderpriority AS prio FROM orders)
  UNION ALL SELECT NULL AS prio, -1 AS prio_len
)
SELECT d.prio, d.prio_len, count(*) AS n_orders
FROM keyed k JOIN dim d ON k.prio IS NOT DISTINCT FROM d.prio
GROUP BY 1, 2
"""


QUERIES["join_null_safe"] = QuerySpec(q_join_null_safe, SQL_JOIN_NULL_SAFE)


# --------------------------------------------------------------------
# Robust (MAD) anomaly detection
# --------------------------------------------------------------------

_MAD_K = 3.0 * 1.4826  # 3-sigma-equivalent for a normal distribution


def q_events_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust hourly-rate anomaly detection via median absolute
    deviation — the mean/std z-score (events_rate_anomaly) is itself
    dragged by the outliers it hunts; MAD is the robust twin.
    Medians are RANK-SELECTED (lower disc — integer indexing, the
    scale-independent discipline from profile_quality_by_source), so
    every compared value is an exact integer and the only double is
    the fixed 3*1.4826 threshold factor.

    Scale: hourly rollup first; two per-type window passes over the
    bounded (type x hours) frame."""
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    # the hourly rollup feeds four lazy consumers (ranked + join-left,
    # twice through the double disc-median pass) — persist it
    # so the raw events scan runs once (review r8 round 6)
    hourly = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", "ts").alias("h")
        ).agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )

    def disc_median(df, part, col, out):
        w = W.partitionBy(part).orderBy(col)
        ranked = df.withColumn("rn", F.row_number().over(w)).withColumn(
            "n", F.count(F.lit(1)).over(W.partitionBy(part))
        )
        target = F.floor((F.col("n") - 1) * 0.5).cast("long") + 1
        med = (
            ranked.filter(F.col("rn") == target)
            .select(part, F.col(col).alias(out))
        )
        return df.join(med, part)

    with_med = disc_median(hourly, "event_type", "cnt", "med")
    dev = with_med.withColumn(
        "adev", F.abs(F.col("cnt") - F.col("med"))
    )
    with_mad = disc_median(dev, "event_type", "adev", "mad")
    return (
        with_mad.filter(
            F.col("adev").cast("double") > F.lit(_MAD_K) * F.col("mad")
        )
        .select(
            "event_type",
            F.date_format("h", "yyyy-MM-dd HH:00").alias("hour"),
            "cnt",
            "med",
            "mad",
        )
    )


SQL_EVENTS_MAD_ANOMALY = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS cnt
  FROM events GROUP BY 1, 2
),
r1 AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY cnt) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM hourly
),
med AS (
  SELECT event_type, cnt AS med FROM r1
  WHERE rn = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1
),
dev AS (
  SELECT h.*, m.med, abs(h.cnt - m.med) AS adev
  FROM hourly h JOIN med m USING (event_type)
),
r2 AS (
  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY adev) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM dev
),
mad AS (
  SELECT event_type, adev AS mad FROM r2
  WHERE rn = CAST(floor((n - 1) * 0.5) AS BIGINT) + 1
)
SELECT d.event_type, strftime(d.h, '%Y-%m-%d %H:00') AS hour,
       d.cnt, d.med, m.mad
FROM dev d JOIN mad m USING (event_type)
WHERE CAST(d.adev AS DOUBLE) > {_MAD_K} * m.mad
"""


QUERIES["events_mad_anomaly"] = QuerySpec(
    q_events_mad_anomaly, SQL_EVENTS_MAD_ANOMALY
)


# --------------------------------------------------------------------
# Weighted quantiles
# --------------------------------------------------------------------


def q_agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted median quality per source: the median where each
    doc counts by its token mass, so the answer reflects the corpus a
    model actually trains on, not a per-doc vote.  Lower weighted
    median: the smallest q whose cumulative weight reaches half the
    total — rank-selected (cumulative-sum window partitioned per
    source), all integer arithmetic.

    Scale: one partitioned cumulative window per source.  A source
    whose docs exceed one partition's comfort gets pre-banded by a
    quality band first (the profile_quality_by_source note) — same
    two-level trick as the hierarchical prefix sums."""
    from pyspark.sql import Window as W

    from ..operators.text import quality_score, words

    d = _t(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        F.floor(quality_score(F.col("text")) * 10000 + 0.5)
        .cast("long")
        .alias("q4"),
        F.size(words(F.col("text"))).alias("w"),
    ).filter(F.col("w") > 0)
    w_cum = (
        W.partitionBy("source")
        .orderBy("q4")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    cum = scored.withColumn("cw", F.sum("w").over(w_cum)).withColumn(
        "tw", F.sum("w").over(W.partitionBy("source"))
    )
    # lower weighted median: first row (in q4 order) with 2*cw >= tw
    hit = cum.filter(2 * F.col("cw") >= F.col("tw"))
    return hit.groupBy("source").agg(
        F.min("q4").alias("wmedian_q4"),
        F.max("tw").alias("total_tokens"),
    )


def _sql_agg_weighted_median() -> str:
    # builds from the ONE shared quality block (llm.sql_quality_ctes)
    # instead of a seventh inline copy of the composite formula —
    # the r7 consolidation missed this twin (review r8 round 6)
    from .llm import sql_quality_ctes

    return f"""
WITH {sql_quality_ctes(extra_cols="source")},
scored AS (
  SELECT q.source,
         CAST(floor(q.quality * 10000 + 0.5) AS BIGINT) AS q4,
         m.n_words AS w
  FROM q JOIN m USING (doc_id)
),
cum AS (
  SELECT source, q4, w,
         sum(w) OVER (PARTITION BY source ORDER BY q4
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
         sum(w) OVER (PARTITION BY source) AS tw
  FROM scored WHERE w > 0
)
SELECT source, CAST(min(q4) AS BIGINT) AS wmedian_q4,
       CAST(max(tw) AS BIGINT) AS total_tokens
FROM cum WHERE 2 * cw >= tw
GROUP BY 1
"""


SQL_AGG_WEIGHTED_MEDIAN = _sql_agg_weighted_median()


QUERIES["agg_weighted_median"] = QuerySpec(
    q_agg_weighted_median, SQL_AGG_WEIGHTED_MEDIAN
)


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core peeling on the co-purchase graph, 3 unrolled rounds:
    repeatedly drop nodes of degree < 2 and recount on the induced
    subgraph — the standard graph-cleanup pass before community /
    centrality work (degree-1 tendrils distort both), and the bounded
    fixed-round form of the iterative algorithm (like the unrolled
    PageRank).  Output: survivors of round 3 with their final degree.

    Scale: reuses the persisted support-pruned edge frame
    (_copurchase_edges, shared with triangles / link prediction).

    r14 batch 6 restructure (guide §2.4 — remove shuffles/stages
    outright): a peel round used to be one degree aggregate + TWO
    left-semi joins, with each round's survivor frame persisted
    because round i+1 referenced it three times (3^k lazy-plan blowup
    un-persisted) — ~25 AQE stage launches of orchestration on
    KB-scale frames.  The undirected frame is SYMMETRIC at every
    round ((u,v) present iff (v,u) present — the union builds it so,
    and the keep-filter condition `u kept AND v kept` preserves it),
    so deg(node x) = count of rows with u = x = count of rows with
    v = x.  A round is therefore two partitioned count WINDOWS (over
    u, over v — both counts computed on the same pre-filter frame,
    exactly the old keep set) + one filter: no joins, no
    self-reference, ONE linear pipeline end to end with no persists.
    Window keys alternate per round so consecutive same-key stages
    reuse the exchange: 3 joins x 3 rounds -> 5 Exchanges total.
    Bit-identical output: the kept row set per round is the same
    `deg_cur(u) >= 2 AND deg_cur(v) >= 2` predicate, and the final
    degree count is unchanged."""
    from pyspark.sql import Window as W

    edges = _copurchase_edges(spark, sf_dir)
    und = edges.select(
        F.col("pa").alias("u"), F.col("pb").alias("v")
    ).union(edges.select(F.col("pb").alias("u"), F.col("pa").alias("v")))

    cur = und
    order = [("u", "v"), ("v", "u"), ("v", "u")]
    for first, second in order:
        cur = (
            cur.withColumn(
                "d1", F.count(F.lit(1)).over(W.partitionBy(first))
            )
            .withColumn(
                "d2", F.count(F.lit(1)).over(W.partitionBy(second))
            )
            .filter((F.col("d1") >= 2) & (F.col("d2") >= 2))
            .select("u", "v")
        )
    return (
        cur.groupBy("u")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(F.col("u").alias("part"), F.col("deg").cast("long").alias("deg"))
    )


SQL_GRAPH_KCORE = f"""
WITH {_SQL_EDGES_CTE},
und AS (
  SELECT pa AS u, pb AS v FROM edges
  UNION ALL SELECT pb, pa FROM edges
),
k1 AS (SELECT u FROM und GROUP BY u HAVING count(*) >= 2),
u1 AS (
  SELECT und.u, und.v FROM und
  WHERE und.u IN (SELECT u FROM k1) AND und.v IN (SELECT u FROM k1)
),
k2 AS (SELECT u FROM u1 GROUP BY u HAVING count(*) >= 2),
u2 AS (
  SELECT u1.u, u1.v FROM u1
  WHERE u1.u IN (SELECT u FROM k2) AND u1.v IN (SELECT u FROM k2)
),
k3 AS (SELECT u FROM u2 GROUP BY u HAVING count(*) >= 2),
u3 AS (
  SELECT u2.u, u2.v FROM u2
  WHERE u2.u IN (SELECT u FROM k3) AND u2.v IN (SELECT u FROM k3)
)
SELECT u AS part, count(*) AS deg FROM u3 GROUP BY u
"""


QUERIES["graph_kcore"] = QuerySpec(q_graph_kcore, SQL_GRAPH_KCORE)
