"""Round-12 batch 49: set-operation sketches, blocked binary tests,
robust means, LSH tuning, cluster purity, ordered-trend testing.

* ``sketch_kmv_set_ops`` — KMV union / intersection / Jaccard
  estimates across the epoch halves, portable md5 hashes (the exact
  values ride along, so the oracle checks estimate AND truth).
* ``stats_cochran_q`` — Cochran's Q for k related binary outcomes
  (did a user trigger each event type), ALL-integer numerator and
  denominator, one final division.
* ``agg_trimmed_mean`` — 10%-per-side trimmed mean of lineitem
  quantity cents per return flag (deterministic rank tiebreaks).
* ``dedup_lsh_band_tuning`` — expected near-dup detection of three
  (bands, rows) MinHash configs evaluated against the OBSERVED
  candidate-pair Jaccard distribution: the s-curve
  1 - (1 - s^r)^b per pair, snapped to ppm BEFORE summation so the
  aggregate is exact-integer on both engines.
* ``dedup_cluster_purity`` — source purity of the connected-component
  near-dup clusters per cluster size (the "is dedup merging across
  sources?" audit), reusing the CC pipeline + its shared CTE string.
* ``stats_page_trend`` — Page's L for an ORDERED alternative
  (activity rising across the four 6-hour day buckets), doubled
  within-day ranks so ties stay integer; z uses the textbook no-ties
  variance (documented approximation).

Reference scope note: the reference engine (scanner.py:120-175) has
no analytics surface; extends SURVEY.md §2.B's sketch/stats/dedup
categories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_long
from . import QuerySpec, load_tuned
from .warehouse25 import SQL_EPOCH_MID_CTE, epoch_mid

_t = load_tuned

_US_PER_DAY = 86_400_000_000


# --------------------------------------------------------------------
# KMV set operations
# --------------------------------------------------------------------

_KMV_K = 64
_KMV_M = float(16**15)


def q_sketch_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch set operations over the active-user sets of the two
    epoch halves: est(|A|), est(|B|), est(|A u B|) from the merged
    k-minimum tail, est(|A n B|) by inclusion-exclusion (floored at
    0), and the estimated Jaccard in ppm — next to the exact values,
    so the one output row verifies the whole mergeable-sketch
    algebra.  The union sketch IS the k smallest of the merged hash
    lists — the merge a 100 TB pipeline ships between shards instead
    of raw ids.

    Parity: md5-derived 60-bit hashes replay exactly; estimates are
    (k-1)*M/h_k chains on identical doubles.  Scale: one distinct
    aggregate per side, per-side k-tails via side-partitioned rank
    windows (the scale path replaces the window with a k-min heap
    aggregate; the window form keeps the oracle replayable)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts")).alias("us")
    )
    mid = epoch_mid(ev.select("us"))
    h = md5_long(F.concat(F.col("user_id").cast("string"), F.lit("|kmvset")))
    halved = ev.crossJoin(F.broadcast(mid)).select(
        F.when(F.col("us") <= F.col("mid_us"), F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("side"),
        h.alias("h"),
    )
    sides = halved.distinct()  # (side, h) — per-side distinct users
    union_side = sides.select(F.lit("u").alias("side"), "h").distinct()
    all_sides = sides.unionByName(union_side)
    w = Window.partitionBy("side").orderBy("h")
    kept = all_sides.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _KMV_K
    )
    per = kept.groupBy("side").agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("h").alias("h_k")
    )
    est = F.when(
        F.col("n_kept") < _KMV_K, F.col("n_kept").cast("double")
    ).otherwise((_KMV_K - 1) * (F.lit(_KMV_M) / F.col("h_k")))
    wide = per.groupBy().agg(
        F.max(F.when(F.col("side") == "a", est)).alias("est_a"),
        F.max(F.when(F.col("side") == "b", est)).alias("est_b"),
        F.max(F.when(F.col("side") == "u", est)).alias("est_u"),
    )
    exact = sides.groupBy().agg(
        F.sum(F.when(F.col("side") == "a", 1).otherwise(0)).alias("exact_a"),
        F.sum(F.when(F.col("side") == "b", 1).otherwise(0)).alias("exact_b"),
    )
    exact_u = union_side.agg(F.count(F.lit(1)).alias("exact_union"))
    est_i = F.greatest(
        F.col("est_a") + F.col("est_b") - F.col("est_u"), F.lit(0.0)
    )
    return (
        wide.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(exact_u))
        .select(
            F.col("exact_a").cast("long").alias("exact_a"),
            F.col("exact_b").cast("long").alias("exact_b"),
            "exact_union",
            (F.col("exact_a") + F.col("exact_b") - F.col("exact_union"))
            .cast("long")
            .alias("exact_intersect"),
            F.floor(F.col("est_u")).cast("long").alias("est_union"),
            F.floor(est_i).cast("long").alias("est_intersect"),
            F.floor(est_i / F.col("est_u") * 1e6 + 0.5)
            .cast("long")
            .alias("est_jaccard_ppm"),
        )
    )


SQL_SKETCH_KMV_SET_OPS = f"""
WITH ev AS (SELECT user_id, epoch_us(ts) AS us FROM events),
{SQL_EPOCH_MID_CTE},
halved AS (
  SELECT CASE WHEN us <= mid.mid_us THEN 'a' ELSE 'b' END AS side,
         CAST(concat('0x', substr(md5(user_id || '|kmvset'), 1, 15))
              AS BIGINT) AS h
  FROM ev, mid
),
sides AS (SELECT DISTINCT side, h FROM halved),
union_side AS (SELECT DISTINCT 'u' AS side, h FROM sides),
all_sides AS (SELECT * FROM sides UNION ALL SELECT * FROM union_side),
kept AS (
  SELECT side, h,
         row_number() OVER (PARTITION BY side ORDER BY h) AS rk
  FROM all_sides QUALIFY rk <= {_KMV_K}
),
per AS (
  SELECT side, count(*) AS n_kept, max(h) AS h_k FROM kept GROUP BY 1
),
est AS (
  SELECT side,
         CASE WHEN n_kept < {_KMV_K} THEN CAST(n_kept AS DOUBLE)
              ELSE ({_KMV_K} - 1) * (CAST({_KMV_M!r} AS DOUBLE)
                                     / CAST(h_k AS DOUBLE)) END AS e
  FROM per
),
wide AS (
  SELECT max(CASE WHEN side = 'a' THEN e END) AS est_a,
         max(CASE WHEN side = 'b' THEN e END) AS est_b,
         max(CASE WHEN side = 'u' THEN e END) AS est_u
  FROM est
),
exact AS (
  SELECT sum(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS exact_a,
         sum(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS exact_b
  FROM sides
),
exact_u AS (SELECT count(*) AS exact_union FROM union_side)
SELECT CAST(exact_a AS BIGINT) AS exact_a,
       CAST(exact_b AS BIGINT) AS exact_b,
       CAST(exact_union AS BIGINT) AS exact_union,
       CAST(exact_a + exact_b - exact_union AS BIGINT) AS exact_intersect,
       CAST(floor(est_u) AS BIGINT) AS est_union,
       CAST(floor(greatest(est_a + est_b - est_u, CAST(0.0 AS DOUBLE)))
            AS BIGINT) AS est_intersect,
       CAST(floor(greatest(est_a + est_b - est_u, CAST(0.0 AS DOUBLE))
                  / est_u * 1e6 + 0.5) AS BIGINT) AS est_jaccard_ppm
FROM wide, exact, exact_u
"""


# --------------------------------------------------------------------
# Cochran's Q
# --------------------------------------------------------------------


def q_stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across the event-type panel: blocks are users,
    treatment j's binary outcome is "did the user ever trigger type
    j".  Q = (k-1) (k SUM Cj^2 - T^2) / (k T - SUM Ri^2) — numerator
    and denominator are EXACT integers (the T/k fraction is cleared
    algebraically), so the only float op is the final division.
    Degenerate panels (denominator 0: every user hit all types or
    none) yield NULL on both engines.

    The squared products ride the decimal rail (ADVICE r12): at the
    target scale t exceeds 3e9, so t*t in Spark LONG arithmetic wraps
    SILENTLY (non-ANSI) while the DuckDB twin promotes — the numerator
    is computed in DECIMAL(38,0) on Spark and HUGEINT in the twin,
    both exact far past any reachable panel size.

    Scale: one distinct (user, type) projection, one per-user count,
    one per-type count — three partial-agg rollups, no window, no
    join wider than the k-row type dimension."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type")
    x = ev.distinct()  # x_ij = 1 iff present
    k_types = x.select("event_type").distinct().agg(
        F.count(F.lit(1)).alias("k")
    )
    rows = x.groupBy("user_id").agg(F.count(F.lit(1)).alias("ri"))
    row_sums = rows.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("ri").alias("t"),
        F.sum(F.col("ri") * F.col("ri")).alias("sum_ri2"),
    )
    cj_dec = F.col("cj").cast("decimal(19,0)")
    col_sums = (
        x.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cj"))
        .agg(F.sum(cj_dec * cj_dec).alias("sum_cj2"))  # cj ~ n_users: > LONG²-safe
    )
    j = row_sums.crossJoin(F.broadcast(col_sums)).crossJoin(
        F.broadcast(k_types)
    )
    t_dec = F.col("t").cast("decimal(38,0)")
    num = (F.col("k") - 1).cast("decimal(38,0)") * (
        F.col("k").cast("decimal(38,0)") * F.col("sum_cj2").cast("decimal(38,0)")
        - t_dec * t_dec
    )
    den = F.col("k") * F.col("t") - F.col("sum_ri2")  # <= k*t: LONG-safe
    q = F.when(den > 0, num.cast("double") / den.cast("double"))
    return j.select(
        "n_users",
        F.col("k").cast("long").alias("k_types"),
        (F.col("k") - 1).cast("long").alias("df"),
        F.floor(q * 1000.0 + 0.5).cast("long").alias("q_milli"),
    )


SQL_STATS_COCHRAN_Q = """
WITH x AS (SELECT DISTINCT user_id, event_type FROM events),
kt AS (SELECT count(DISTINCT event_type) AS k FROM x),
rows_ AS (SELECT user_id, count(*) AS ri FROM x GROUP BY 1),
row_sums AS (
  SELECT count(*) AS n_users, sum(ri) AS t, sum(ri * ri) AS sum_ri2
  FROM rows_
),
col_sums AS (
  SELECT sum(CAST(cj AS HUGEINT) * cj) AS sum_cj2
  FROM (SELECT event_type, count(*) AS cj FROM x GROUP BY 1)
)
SELECT CAST(n_users AS BIGINT) AS n_users,
       CAST(k AS BIGINT) AS k_types,
       CAST(k - 1 AS BIGINT) AS df,
       CAST(floor(
         CASE WHEN (k * t - sum_ri2) > 0
              THEN CAST((k - 1) * (k * CAST(sum_cj2 AS HUGEINT)
                                   - CAST(t AS HUGEINT) * t) AS DOUBLE)
                   / CAST(k * t - sum_ri2 AS DOUBLE)
         END * 1000.0 + 0.5) AS BIGINT) AS q_milli
FROM row_sums, col_sums, kt
"""


# --------------------------------------------------------------------
# trimmed mean
# --------------------------------------------------------------------

_TRIM_PCT = 10  # percent trimmed from EACH side


def q_agg_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-per-side trimmed mean of quantity cents per return flag —
    the robust-mean sibling of agg_winsorized_mean (which CLAMPS the
    tails; trimming DROPS them).  Ranks carry a full deterministic
    tiebreak (value, orderkey, linenumber) so the trim boundary is
    identical on both engines; the kept-range mean folds from exact
    integer sums.

    Scale: one per-group rank window (3-value partition key) + one
    rollup.  The 100 TB path is IMPLEMENTED as
    ``agg_trimmed_mean_bucketed`` (warehouse35): the value-grid
    rollup replaces the per-row rank entirely (16x probe 0.5x vs this
    form's 5.4x) and returns identical results — kept here as the
    reference form its planted equality test compares against."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.floor(F.col("l_quantity") * 100 + 0.5).cast("long").alias("xq"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("g").orderBy("xq", "l_orderkey", "l_linenumber")
    ranked = li.select(
        "g", "xq", F.row_number().over(w).alias("rn")
    )
    n_g = ranked.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    lo = F.expr(f"n * {_TRIM_PCT} DIV 100")
    bounded = ranked.join(n_g, "g").withColumn("lo", lo).filter(
        (F.col("rn") > F.col("lo")) & (F.col("rn") <= F.col("n") - F.col("lo"))
    )
    return (
        bounded.groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("xq").alias("s"),
            F.any_value(F.col("n")).alias("n_all"),
        )
        .select(
            F.col("g").alias("l_returnflag"),
            F.col("n_all").cast("long").alias("n_all"),
            F.col("n_kept").cast("long").alias("n_kept"),
            F.expr("CAST(s AS decimal(19,0)) * 1000 DIV n_kept")
            .cast("long")
            .alias("trimmed_mean_cents_milli"),
        )
        .orderBy("l_returnflag")
    )


SQL_AGG_TRIMMED_MEAN = f"""
WITH li AS (
  SELECT l_returnflag AS g,
         CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS xq,
         l_orderkey, l_linenumber
  FROM lineitem
),
ranked AS (
  SELECT g, xq,
         row_number() OVER (
           PARTITION BY g ORDER BY xq, l_orderkey, l_linenumber) AS rn
  FROM li
),
n_g AS (SELECT g, count(*) AS n FROM ranked GROUP BY 1),
bounded AS (
  SELECT r.g, r.xq, n.n
  FROM ranked r JOIN n_g n USING (g)
  WHERE r.rn > n.n * {_TRIM_PCT} // 100
    AND r.rn <= n.n - n.n * {_TRIM_PCT} // 100
)
SELECT g AS l_returnflag,
       CAST(any_value(n) AS BIGINT) AS n_all,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST((CAST(sum(xq) AS HUGEINT) * 1000) // count(*) AS BIGINT)
           AS trimmed_mean_cents_milli
FROM bounded GROUP BY g
ORDER BY l_returnflag
"""


# --------------------------------------------------------------------
# LSH band tuning
# --------------------------------------------------------------------

_LSH_CONFIGS = ((2, 8), (4, 4), (8, 2))  # (bands, rows) over 16 hashes


def q_dedup_lsh_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash banding tuning table: for each (bands b, rows r)
    config of a 16-hash signature, the expected number of OBSERVED
    candidate pairs an LSH pass would detect — the s-curve
    p(s) = 1 - (1 - s^r)^b evaluated at each pair's exact Jaccard and
    summed, plus the same restricted to true near-dups (s >= 0.5).
    This is the table you read to pick banding BEFORE a 100 TB LSH
    run: more bands -> more recall, more candidate volume.

    Parity: s comes from the tenk-grid Jaccard; s^r and (1-x)^b are
    explicit square-multiply chains (r, b in {{2,4,8}}); p is snapped
    to ppm BEFORE summation, so the aggregate is an exact integer sum
    on both engines — no unordered float aggregation.

    Scale: reuses the shared shingle frames; per config it is one
    map-side expression over the bounded candidate-pair frame."""
    from ..operators.dedup import ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"),
        group_cols=["lang", "source"],
        shingle_k=3,
        threshold=0.0001,
        max_shingle_df=50,
    ).select((F.floor(F.col("jaccard") * 10000 + 0.5) / 10000.0).alias("s"))

    def pow_chain(col, e: int):
        # e in {2, 4, 8}: exact square chains
        out = col * col
        if e >= 4:
            out = out * out
        if e == 8:
            out = out * out
        return out

    # ONE aggregation computing all six sums as columns, then the
    # single row is stacked into the 3 config rows map-side — a
    # 3-branch union re-ran the whole un-persisted pair pipeline once
    # per config (the q_dedup_threshold_sweep lesson, review r12)
    aggs = [F.count(F.lit(1)).alias("n_pairs")]
    for b, r in _LSH_CONFIGS:
        p = F.lit(1.0) - pow_chain(F.lit(1.0) - pow_chain(F.col("s"), r), b)
        p_ppm = F.floor(p * 1e6 + 0.5)
        aggs.append(F.sum(p_ppm).alias(f"d_{b}_{r}"))
        aggs.append(
            F.sum(F.when(F.col("s") >= 0.5, p_ppm).otherwise(0)).alias(
                f"nd_{b}_{r}"
            )
        )
    one = pairs.agg(*aggs)
    stacked = one.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("bands"),
                        F.lit(r).alias("rows"),
                        F.col("n_pairs"),
                        (F.col(f"d_{b}_{r}") / 1000)
                        .cast("long")
                        .alias("exp_detected_milli"),
                        (F.col(f"nd_{b}_{r}") / 1000)
                        .cast("long")
                        .alias("exp_detected_neardup_milli"),
                    )
                    for b, r in _LSH_CONFIGS
                ]
            )
        ).alias("c")
    ).select("c.*")
    return stacked.orderBy("bands")


def _lsh_sql() -> str:
    from .llm import SQL_BLOCKED_SHINGLES_CTES, SQL_SHINGLE_COMMON_CTE

    def pow_sql(x: str, e: int) -> str:
        out = f"({x}*{x})"
        if e >= 4:
            out = f"({out}*{out})"
        if e == 8:
            out = f"({out}*{out})"
        return out

    # mirror of the Spark shape: ONE aggregation (6 sum columns), then
    # a 3-arm readout over the MATERIALIZED one-row CTE (DuckDB
    # inlines plain CTEs per reference, which would re-run the pair
    # pipeline once per arm — the exact cost the Spark side avoids).
    # The ppm summand is CAST to BIGINT BEFORE sum: DuckDB's // on a
    # DOUBLE sum is plain division (964.896, not 964) and CAST(double
    # AS BIGINT) ROUNDS where Spark truncates — an integer-typed sum
    # makes // true floor division (found by a 1-milli oracle
    # mismatch, round 12)
    sums = ["count(*) AS n_pairs"]
    arms = []
    for b, r in _LSH_CONFIGS:
        p = f"(1.0 - {pow_sql('(1.0 - ' + pow_sql('s', r) + ')', b)})"
        sums.append(
            f"sum(CAST(floor({p} * 1e6 + 0.5) AS BIGINT)) AS d_{b}_{r}"
        )
        sums.append(
            f"sum(CASE WHEN s >= 0.5 THEN CAST(floor({p} * 1e6 + 0.5)"
            f" AS BIGINT) ELSE 0 END) AS nd_{b}_{r}"
        )
        arms.append(f"""
SELECT {b} AS bands, {r} AS "rows", n_pairs,
       CAST(d_{b}_{r} // 1000 AS BIGINT) AS exp_detected_milli,
       CAST(nd_{b}_{r} // 1000 AS BIGINT) AS exp_detected_neardup_milli
FROM one""")
    body = "\nUNION ALL\n".join(arms)
    return f"""
WITH {SQL_BLOCKED_SHINGLES_CTES},
{SQL_SHINGLE_COMMON_CTE},
jac AS (
  SELECT floor(round(n_common * 1.0 /
                     (ca.n_sh + cb.n_sh - n_common), 4) * 10000 + 0.5)
           / 10000.0 AS s
  FROM common
  JOIN counts ca ON ca.doc_id = id_a
  JOIN counts cb ON cb.doc_id = id_b
  WHERE floor(round(n_common * 1.0 /
                    (ca.n_sh + cb.n_sh - n_common), 4) * 10000 + 0.5) >= 1
),
one AS MATERIALIZED (
  SELECT {', '.join(sums)} FROM jac
)
SELECT CAST(bands AS INT) AS bands, CAST("rows" AS INT) AS "rows",
       CAST(n_pairs AS BIGINT) AS n_pairs,
       exp_detected_milli, exp_detected_neardup_milli
FROM ({body})
ORDER BY bands
"""


# --------------------------------------------------------------------
# dup-cluster source purity
# --------------------------------------------------------------------


def q_dedup_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source purity of the near-dup connected components, by cluster
    size: a low-purity bucket means dedup is merging documents ACROSS
    sources — the audit that decides whether cluster canonicalization
    may silently rebalance the corpus mix.  Per multi-doc cluster:
    purity_ppm = majority-source count * 1e6 DIV size (integer); the
    report averages purities per size bucket (integer DIV again).

    Scale: the CC label frame (one 16-byte state shuffle per round,
    operators/graph.py) + two rollups."""
    from .llm import cc_labeled

    d = _t(spark, sf_dir, "documents")
    labeled = cc_labeled(d).join(d.select("doc_id", "source"), "doc_id")
    per_src = labeled.groupBy("component", "source").agg(
        F.count(F.lit(1)).alias("n_src")
    )
    per_cluster = per_src.groupBy("component").agg(
        F.sum("n_src").alias("size"), F.max("n_src").alias("majority")
    ).filter(F.col("size") >= 2)
    purity = per_cluster.select(
        "size",
        F.expr("CAST(majority AS decimal(19,0)) * 1000000 DIV size").alias(
            "purity_ppm"
        ),
    )
    return (
        purity.groupBy(F.col("size").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.expr(
                "CAST(sum(purity_ppm) AS decimal(19,0)) DIV count(1)"
            ).cast("long").alias("mean_purity_ppm"),
        )
        .orderBy("cluster_size")
    )


def _purity_sql() -> str:
    from .llm import SQL_CC_LABELED_CTES

    return f"""
WITH RECURSIVE {SQL_CC_LABELED_CTES},
lab_src AS (
  SELECT l.component, d.source
  FROM labeled l JOIN documents d USING (doc_id)
),
per_src AS (
  SELECT component, source, count(*) AS n_src
  FROM lab_src GROUP BY 1, 2
),
per_cluster AS (
  SELECT component, sum(n_src) AS size, max(n_src) AS majority
  FROM per_src GROUP BY 1 HAVING sum(n_src) >= 2
),
purity AS (
  SELECT size,
         (CAST(majority AS HUGEINT) * 1000000) // size AS purity_ppm
  FROM per_cluster
)
SELECT CAST(size AS BIGINT) AS cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(CAST(sum(purity_ppm) AS HUGEINT) // count(*) AS BIGINT)
           AS mean_purity_ppm
FROM purity GROUP BY size
ORDER BY cluster_size
"""


# --------------------------------------------------------------------
# Page's trend test
# --------------------------------------------------------------------

_PAGE_K = 4  # ordered treatments: the four 6-hour day buckets


def q_stats_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L test for the ORDERED alternative "activity rises
    across the day": blocks are days, treatments the four 6-hour
    buckets in order, metric the event count (zero-filled so every
    block ranks all k treatments).  Doubled within-block ranks keep
    ties integer (the Friedman convention); L2 = sum_j j * R2_j and
    E[L2] = b k (k+1)^2 / 2 are exact integers, and z uses the
    textbook NO-TIES variance 4 Var[L] = b k^2 (k+1)(k^2-1) / 36 —
    documented approximation, identical double chain on both
    engines."""
    ev = _t(spark, sf_dir, "events").select(
        F.floor(F.unix_micros(F.col("ts")) / _US_PER_DAY).alias("day"),
        F.floor(
            F.unix_micros(F.col("ts")) % _US_PER_DAY
            / (_US_PER_DAY / _PAGE_K)
        ).cast("int").alias("bucket"),
    )
    counts = ev.groupBy("day", "bucket").agg(
        F.count(F.lit(1)).alias("n")
    )
    days = counts.select("day").distinct()
    buckets = days.sparkSession.range(_PAGE_K).select(
        F.col("id").cast("int").alias("bucket")
    )
    spine = days.crossJoin(F.broadcast(buckets))
    filled = spine.join(counts, ["day", "bucket"], "left").select(
        "day", "bucket", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    # doubled average rank: 2*rank + ties - 1 (the Friedman idiom)
    r2 = (
        2 * F.rank().over(Window.partitionBy("day").orderBy("n"))
        + F.count(F.lit(1)).over(Window.partitionBy("day", "n"))
        - 1
    )
    ranked = filled.select("day", "bucket", r2.alias("r2"))
    per_bucket = ranked.groupBy("bucket").agg(F.sum("r2").alias("rsum"))
    agg = per_bucket.agg(
        F.sum((F.col("bucket") + 1) * F.col("rsum")).alias("l2")
    )
    b_days = days.agg(F.count(F.lit(1)).alias("b"))
    k = _PAGE_K
    e_l2 = F.col("b") * (k * (k + 1) * (k + 1) // 2)
    var_l2 = (
        F.col("b").cast("double")
        * F.lit(float(k * k * (k + 1) * (k * k - 1)))
        / F.lit(36.0)
    )
    z = F.when(
        F.col("b") > 0,
        (F.col("l2") - e_l2).cast("double") / F.sqrt(var_l2),
    )
    return agg.crossJoin(F.broadcast(b_days)).select(
        F.col("b").cast("long").alias("n_days"),
        F.lit(k).cast("long").alias("k_buckets"),
        F.col("l2").cast("long").alias("l2"),
        e_l2.cast("long").alias("e_l2"),
        F.floor(z * 1000.0 + 0.5).cast("long").alias("z_milli"),
    )


SQL_STATS_PAGE_TREND = f"""
WITH ev AS (
  SELECT epoch_us(ts) // {_US_PER_DAY} AS day,
         CAST((epoch_us(ts) % {_US_PER_DAY})
              // ({_US_PER_DAY} // {_PAGE_K}) AS INT) AS bucket
  FROM events
),
counts AS (SELECT day, bucket, count(*) AS n FROM ev GROUP BY 1, 2),
days AS (SELECT DISTINCT day FROM counts),
spine AS (
  SELECT d.day, b.bucket
  FROM days d, (SELECT unnest(range({_PAGE_K}))::INT AS bucket) b
),
filled AS (
  SELECT s.day, s.bucket, coalesce(c.n, 0) AS n
  FROM spine s LEFT JOIN counts c USING (day, bucket)
),
ranked AS (
  SELECT day, bucket,
         2 * rank() OVER (PARTITION BY day ORDER BY n)
           + count(*) OVER (PARTITION BY day, n) - 1 AS r2
  FROM filled
),
per_bucket AS (SELECT bucket, sum(r2) AS rsum FROM ranked GROUP BY 1),
agg AS (SELECT sum((bucket + 1) * rsum) AS l2 FROM per_bucket),
b_days AS (SELECT count(*) AS b FROM days)
SELECT CAST(b AS BIGINT) AS n_days,
       CAST({_PAGE_K} AS BIGINT) AS k_buckets,
       CAST(l2 AS BIGINT) AS l2,
       CAST(b * {_PAGE_K * (_PAGE_K + 1) * (_PAGE_K + 1) // 2} AS BIGINT)
           AS e_l2,
       CAST(floor(
         CASE WHEN b > 0 THEN
           CAST(l2 - b * {_PAGE_K * (_PAGE_K + 1) * (_PAGE_K + 1) // 2}
                AS DOUBLE)
           / sqrt(CAST(b AS DOUBLE)
                  * CAST({float(_PAGE_K**2 * (_PAGE_K + 1) * (_PAGE_K**2 - 1))!r}
                         AS DOUBLE) / 36.0)
         END * 1000.0 + 0.5) AS BIGINT) AS z_milli
FROM agg, b_days
"""


QUERIES: dict[str, QuerySpec] = {
    "sketch_kmv_set_ops": QuerySpec(
        q_sketch_kmv_set_ops, SQL_SKETCH_KMV_SET_OPS
    ),
    "stats_cochran_q": QuerySpec(q_stats_cochran_q, SQL_STATS_COCHRAN_Q),
    "agg_trimmed_mean": QuerySpec(q_agg_trimmed_mean, SQL_AGG_TRIMMED_MEAN),
    "dedup_lsh_band_tuning": QuerySpec(
        q_dedup_lsh_band_tuning, _lsh_sql()
    ),
    "dedup_cluster_purity": QuerySpec(
        q_dedup_cluster_purity, _purity_sql()
    ),
    "stats_page_trend": QuerySpec(q_stats_page_trend, SQL_STATS_PAGE_TREND),
}
