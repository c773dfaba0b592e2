"""Round-8 batch 33: experiment-analysis statistics, allocation, and
index numbers.

Why these belong in a 100 TB training-data engine:

* ``stats_spearman`` — monotone (not just linear) association between
  quantity and price per return flag; the rank transform is the
  standard robustness upgrade over Pearson when tails are heavy.
* ``sample_stratified_neyman`` — Neyman (optimal) allocation of a
  fixed sample budget: strata get budget ∝ N_h·S_h, so high-variance
  sources are sampled harder than proportional allocation would —
  the right way to budget eval samples across corpus sources.
* ``stats_cuped`` — CUPED variance reduction: regress the experiment
  metric on its pre-period value and analyze the adjusted metric;
  the industry-standard way to shrink A/B confidence intervals
  without more traffic.
* ``stats_power_mde`` — per-day minimum detectable effect for the
  two-proportion test at α=0.05 / power 0.8: the "is this experiment
  even worth running at this traffic" pre-check.
* ``events_did_estimator`` — difference-in-differences over the
  hash-split variants and the epoch-midpoint pre/post split: the
  observational-causal counterpart to the A/B estimator.
* ``embed_outlier_mahalanobis`` — diagonal-covariance Mahalanobis
  distance per embedding (per-dim standardized squared deviation),
  top-20 outliers: the embedding-space data-quality sweep that
  catches encoder failures plain norms cannot (corpus vectors are
  unit-normalized — see build-conventions).
* ``orders_price_index_laspeyres`` — Laspeyres / Paasche / Fisher
  price indexes per ship year against the base (first) year over
  parts present in both — the canonical composition-controlled
  "did prices move or did the mix move" decomposition.

Engine-parity notes: every cross-part / cross-dim float SUM is
quantized to integers first (float sums are association-order-
dependent across engines — docs/PARITY.md #10); scalar double chains
(sqrt, ratios) are written identically on both sides; z-quantiles are
embedded as Python literals, never engine inverse-CDF calls; all
divisions carry ANSI zero-denominator guards mirrored as CASE/NULLIF.

Reference scope note: the reference engine (scanner.py:120-175) has
no analytics surface; extends SURVEY.md §2.B's aggregation /
sampling / stats categories.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import QuerySpec, load_tuned
from .warehouse3 import SQL_AB_BUCKET, ab_bucket_col

_t = load_tuned

# The epoch-midpoint split (floor division of min+max event micros):
# ONE definition of the tie rule for every pre/post experiment op
# (CUPED and DiD here; McNemar and Cohen's d in warehouse27) — a
# semantic change to the midpoint must happen in exactly one place
# per engine.  The SQL snippet expects an `ev` CTE exposing `us`.
EPOCH_MID_EXPR = "(min(us) + max(us)) DIV 2"
SQL_EPOCH_MID_CTE = "mid AS (SELECT (min(us) + max(us)) // 2 AS mid_us FROM ev)"


def epoch_mid(ev: DataFrame) -> DataFrame:
    """1-row (mid_us) frame from an event frame carrying `us`."""
    return ev.agg(F.expr(EPOCH_MID_EXPR).alias("mid_us"))

# Two-sided α=0.05 and power 0.8 normal quantiles, embedded as
# literals on BOTH sides (docs/PARITY.md #9: never call engine
# inverse-CDFs).
_Z_ALPHA = 1.959964
_Z_BETA = 0.841621

_NEYMAN_BUDGET = 500


# --------------------------------------------------------------------
# Spearman rank correlation (average ranks for ties)
# --------------------------------------------------------------------


def q_stats_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and extended price
    per return flag, with average ranks for ties (the textbook
    treatment: tied values share the mean of the positions they
    occupy — computed exactly as 2·rank = 2·min_rank + (ties−1),
    an integer, so no float enters the ranking).

    Scale: the rank windows partition by the 3-value return flag —
    Spearman fundamentally requires per-group global ranks (a sort);
    the 100 TB path replaces exact ranks with quantile-binned
    midranks, trading exactness for a shuffle-free histogram pass.
    The Pearson step on ranks folds from six integer sums.

    r14 (guide §2.4/§2.5): the tie count for value v in group g is
    the PEER count of the rank ordering — count(*) over (partition g
    order by xq RANGE CURRENT ROW..CURRENT ROW) — identical value to
    count(*) over (partition g, xq), but it shares the rank window's
    exact spec, so Spark plans ONE Window + ONE sort per axis instead
    of two each (the old plan: 4 sorts of the full group).  The
    explicit width-pinned repartition replaces the ENSURE_REQUIREMENTS
    exchange (same hash(g) movement, zero extra shuffle) and stops AQE
    byte-based coalescing from serializing the sort+window stage onto
    one task: rank bytes are tiny but rank CPU is per-row (~5 s at
    sf0.1 on one core), the CPU-dense-stage blind spot of advisory
    sizing.  Results are bit-identical (integer ranks)."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.floor(F.col("l_quantity") * 100 + 0.5).cast("long").alias("xq"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("yq"),
    )
    li = li.repartition(
        spark.sparkContext.defaultParallelism, "g"
    )
    w_x = Window.partitionBy("g").orderBy("xq")
    w_y = Window.partitionBy("g").orderBy("yq")
    rx = (
        2 * F.rank().over(w_x)
        + F.count(F.lit(1)).over(
            w_x.rangeBetween(Window.currentRow, Window.currentRow)
        )
        - 1
    )
    ry = (
        2 * F.rank().over(w_y)
        + F.count(F.lit(1)).over(
            w_y.rangeBetween(Window.currentRow, Window.currentRow)
        )
        - 1
    )
    ranked = li.select("g", rx.alias("rx"), ry.alias("ry"))
    # rank-product sums go through decimal: the OPERANDS are cast to
    # decimal(19,0) BEFORE multiplying (review r8 — a BIGINT rx*rx
    # already throws under ANSI past ~3e9 rows/group, before any cast
    # of the product could apply), and rank sums to decimal(20,0)
    # (sum(rx) ~ n² passes BIGINT at the same scale).  Decimal sums
    # stay exact and order-independent, matching DuckDB's HUGEINT.
    d19 = "decimal(19,0)"
    rx_d, ry_d = F.col("rx").cast(d19), F.col("ry").cast(d19)
    sums = ranked.groupBy("g").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("rx").cast("decimal(20,0)")).alias("sx"),
        F.sum(F.col("ry").cast("decimal(20,0)")).alias("sy"),
        F.sum(rx_d * rx_d).alias("sxx"),
        F.sum(ry_d * ry_d).alias("syy"),
        F.sum(rx_d * ry_d).alias("sxy"),
    )
    # combine in DOUBLE (n·sxy overflows BIGINT at scale); identical
    # literal chain on both engines
    nd = F.col("n").cast("double")
    dx = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    dy = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    rho = F.when(
        (dx > 0) & (dy > 0), num / (F.sqrt(dx) * F.sqrt(dy))
    )
    return sums.select(
        F.col("g").alias("l_returnflag"),
        "n",
        F.floor(rho * 1e6 + 0.5).cast("long").alias("spearman_ppm"),
    ).orderBy("l_returnflag")


SQL_STATS_SPEARMAN = """
WITH li AS (
  SELECT l_returnflag AS g,
         CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS xq,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS yq
  FROM lineitem
),
ranked AS (
  SELECT g,
         2 * rank() OVER (PARTITION BY g ORDER BY xq)
           + count(*) OVER (PARTITION BY g, xq) - 1 AS rx,
         2 * rank() OVER (PARTITION BY g ORDER BY yq)
           + count(*) OVER (PARTITION BY g, yq) - 1 AS ry
  FROM li
),
sums AS (
  SELECT g, count(*) AS n,
         sum(rx) AS sx, sum(ry) AS sy,
         sum(CAST(rx AS HUGEINT) * rx) AS sxx,
         sum(CAST(ry AS HUGEINT) * ry) AS syy,
         sum(CAST(rx AS HUGEINT) * ry) AS sxy
  FROM ranked GROUP BY g
)
SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
       CAST(floor(
         CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
               AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
              THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                   / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
         END * 1e6 + 0.5) AS BIGINT) AS spearman_ppm
FROM sums ORDER BY l_returnflag
"""


# --------------------------------------------------------------------
# Neyman (optimal) stratified allocation
# --------------------------------------------------------------------


def q_sample_stratified_neyman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman allocation of a 500-doc sample budget across sources:
    stratum weight = N_h·S_h (population std of n_chars), apportioned
    by Hamilton largest-remainder so allocations sum to exactly 500.

    The float part stops early: S_h is quantized to an integer
    micro-weight per stratum, and the apportionment (base, remainder
    ranking, bonus) runs on exact integer products — the verified
    sample_quota_hamilton recipe with variance-aware weights.

    Scale: one source-keyed aggregate, one bounded window over the
    per-source rows, one broadcast total."""
    docs = _t(spark, sf_dir, "documents").select("source", "n_chars")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sx"),
        # decimal with the OPERAND cast first (review r8: a long*long
        # square throws under ANSI before any product cast applies —
        # here at a single ~3e9-char document); the sum then passes
        # 2^63 near 1e12 docs either way
        F.sum(F.col("n_chars").cast("decimal(19,0)") * F.col("n_chars")).alias("sxx"),
    )
    nd = F.col("n_docs").cast("double")
    # greatest(..., 0): the float variance can round a hair negative
    # when sx² passes 2^53 (review r8 — reproduced: DuckDB sqrt(-eps)
    # THROWS while Spark returns NaN); clamping is mirrored exactly
    var = F.greatest(
        (
            F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx").cast("double") / nd
        )
        / nd,
        F.lit(0.0),
    )
    sd = F.sqrt(var)
    per = per.select(
        "source",
        "n_docs",
        F.floor(sd * 1000 + 0.5).cast("long").alias("std_chars_milli"),
        # integer micro-weight N_h * S_h * 1e6, saturated at 1.8e16 so
        # wq * budget stays inside BIGINT at any stratum size (review
        # r8); everything after this line is exact integer arithmetic
        F.floor(F.least(nd * sd * 1e6, F.lit(1.8e16)) + 0.5)
        .cast("long")
        .alias("wq"),
    )
    # all-zero-variance degenerate: wt = 0 would be an ANSI division
    # throw — clamp to 1 (bases land 0; the leftover bonus hands the
    # budget to the alphabetically-first sources, mirrored in the twin)
    tot = per.agg(F.greatest(F.sum("wq"), F.lit(1)).alias("wt"))
    w = Window.orderBy(F.desc("rem"), "source")
    alloc = (
        per.crossJoin(F.broadcast(tot))
        .withColumn("base", F.expr(f"(wq * {_NEYMAN_BUDGET}) DIV wt"))
        .withColumn("rem", F.expr(f"(wq * {_NEYMAN_BUDGET}) % wt"))
        .withColumn("rk", F.row_number().over(w))
    )
    leftover = F.lit(_NEYMAN_BUDGET) - F.sum("base").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        alloc.withColumn("leftover", leftover)
        .select(
            "source",
            "n_docs",
            "std_chars_milli",
            "base",
            (F.col("rk") <= F.col("leftover")).cast("int").alias("bonus"),
            (
                F.col("base") + (F.col("rk") <= F.col("leftover")).cast("int")
            ).alias("n_alloc"),
        )
        .orderBy("source")
    )


SQL_SAMPLE_STRATIFIED_NEYMAN = f"""
WITH per0 AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS sx,
         sum(n_chars * n_chars) AS sxx
  FROM documents GROUP BY 1
),
per AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(greatest((CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                            / CAST(n_docs AS DOUBLE))
                         / CAST(n_docs AS DOUBLE), 0.0)) * 1000 + 0.5)
              AS BIGINT)
           AS std_chars_milli,
         CAST(floor(least(CAST(n_docs AS DOUBLE)
                    * sqrt(greatest((CAST(sxx AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                              / CAST(n_docs AS DOUBLE))
                           / CAST(n_docs AS DOUBLE), 0.0)) * 1e6,
                    1.8e16) + 0.5) AS BIGINT)
           AS wq
  FROM per0
),
tot AS (SELECT greatest(CAST(sum(wq) AS BIGINT), 1) AS wt FROM per),
alloc AS (
  SELECT p.source, p.n_docs, p.std_chars_milli,
         (p.wq * {_NEYMAN_BUDGET}) // t.wt AS base,
         (p.wq * {_NEYMAN_BUDGET}) % t.wt AS rem,
         row_number() OVER (
           ORDER BY (p.wq * {_NEYMAN_BUDGET}) % t.wt DESC, p.source
         ) AS rk
  FROM per p CROSS JOIN tot t
),
lo AS (SELECT {_NEYMAN_BUDGET} - sum(base) AS leftover FROM alloc)
SELECT a.source, CAST(a.n_docs AS BIGINT) AS n_docs, a.std_chars_milli,
       CAST(a.base AS BIGINT) AS base,
       CAST(CASE WHEN a.rk <= l.leftover THEN 1 ELSE 0 END AS INT) AS bonus,
       CAST(a.base + CASE WHEN a.rk <= l.leftover THEN 1 ELSE 0 END
            AS BIGINT) AS n_alloc
FROM alloc a CROSS JOIN lo l
ORDER BY a.source
"""


# --------------------------------------------------------------------
# CUPED variance reduction
# --------------------------------------------------------------------




def q_stats_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted experiment readout: per-user pre/post value sums
    split at the exact integer epoch midpoint, θ = cov(pre, post) /
    var(pre) pooled across variants, adjusted post mean per variant =
    mean(y) − θ·(mean(x) − pooled mean(x)).  Also reports the pooled
    variance-reduction factor corr(x, y)² — the fraction of metric
    variance CUPED removes.

    Scale: one user-keyed conditional aggregate (map-side split, no
    join), one 1-row pooled-stats broadcast, one 2-row variant
    aggregate.  θ folds from five integer-cent sums; zero pre-period
    variance degrades to θ = 0 (unadjusted) on BOTH engines."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    mid = epoch_mid(ev)
    per_user = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("us") <= F.col("mid_us"), F.col("cents")).otherwise(F.lit(0))).alias("x"),
            F.sum(F.when(F.col("us") > F.col("mid_us"), F.col("cents")).otherwise(F.lit(0))).alias("y"),
        )
        .select(
            F.when(ab_bucket_col() < 500, F.lit("control"))
            .otherwise(F.lit("treatment"))
            .alias("variant"),
            "x",
            "y",
        )
    )
    # one consumer of per_user: the variant aggregate ALSO carries the
    # second-moment sums, and the pooled stats fold from the two
    # variant rows (sums are associative) — avoids duplicating the
    # events-scan subtree into a second aggregation path.  The 2-row
    # variant frame is multi-consumer (pooled fold + final readout),
    # so it is persisted per repo convention — the lazy plan
    # otherwise re-derives the whole events scan per consumer.
    # Operand-cast BEFORE multiplying (the stats_spearman convention):
    # casting the long*long *product* still evaluates the multiply in
    # 64-bit and throws under ANSI once a per-user half-period spend
    # passes ~2^31.5 cents.  d19*d19 plans a decimal(38,0) multiply.
    dec = "decimal(19,0)"
    per_variant = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").alias("vsx"),
        F.sum("y").alias("vsy"),
        F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).alias("vsxx"),
        F.sum(F.col("y").cast(dec) * F.col("y").cast(dec)).alias("vsyy"),
        F.sum(F.col("x").cast(dec) * F.col("y").cast(dec)).alias("vsxy"),
    )
    per_variant = per_variant.persist()
    pooled = per_variant.agg(
        F.sum("n_users").alias("n"),
        F.sum("vsx").alias("sx"),
        F.sum("vsy").alias("sy"),
        F.sum("vsxx").alias("sxx"),
        F.sum("vsyy").alias("syy"),
        F.sum("vsxy").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    vx = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    vy = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double")
    cxy = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    pooled = pooled.select(
        F.coalesce(F.when(vx > 0, cxy / vx), F.lit(0.0)).alias("theta"),
        (F.col("sx").cast("double") / nd).alias("mx_pool"),
        F.floor(
            F.coalesce(
                F.when((vx > 0) & (vy > 0), cxy * cxy / (vx * vy)), F.lit(0.0)
            )
            * 1e6
            + 0.5
        )
        .cast("long")
        .alias("var_reduction_ppm"),
    )
    vn = F.col("n_users").cast("double")
    my = F.col("vsy").cast("double") / vn
    mx = F.col("vsx").cast("double") / vn
    adj = my - F.col("theta") * (mx - F.col("mx_pool"))
    return (
        per_variant.crossJoin(F.broadcast(pooled))
        .select(
            "variant",
            "n_users",
            # cents × 10 = milli-units of the raw value column
            F.floor(my * 10 + 0.5).cast("long").alias("mean_post_milli"),
            F.floor(adj * 10 + 0.5).cast("long").alias("mean_cuped_milli"),
            F.floor(F.col("theta") * 1e6 + 0.5).cast("long").alias("theta_ppm"),
            "var_reduction_ppm",
        )
        .orderBy("variant")
    )


SQL_STATS_CUPED = f"""
WITH ev AS (
  SELECT user_id, epoch_us(ts) AS us,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
{SQL_EPOCH_MID_CTE},
per_user0 AS (
  SELECT user_id,
         CAST(sum(CASE WHEN e.us <= m.mid_us THEN cents ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN e.us > m.mid_us THEN cents ELSE 0 END) AS BIGINT) AS y
  FROM ev e CROSS JOIN mid m
  GROUP BY user_id
),
per_user AS (
  SELECT CASE WHEN {SQL_AB_BUCKET} < 500
              THEN 'control' ELSE 'treatment' END AS variant,
         x, y
  FROM per_user0
),
pooled0 AS (
  SELECT count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(y AS HUGEINT) * y) AS syy,
         sum(CAST(x AS HUGEINT) * y) AS sxy
  FROM per_user
),
pooled AS (
  SELECT coalesce(
           CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           END, 0.0) AS theta,
         CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx_pool,
         CAST(floor(coalesce(
           CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                 AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0
                THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
           END, 0.0) * 1e6 + 0.5) AS BIGINT) AS var_reduction_ppm
  FROM pooled0
),
per_variant AS (
  SELECT variant, count(*) AS n_users,
         CAST(sum(x) AS BIGINT) AS vsx, CAST(sum(y) AS BIGINT) AS vsy
  FROM per_user GROUP BY variant
)
SELECT v.variant, CAST(v.n_users AS BIGINT) AS n_users,
       CAST(floor(CAST(v.vsy AS DOUBLE) / CAST(v.n_users AS DOUBLE) * 10
                  + 0.5) AS BIGINT) AS mean_post_milli,
       CAST(floor((CAST(v.vsy AS DOUBLE) / CAST(v.n_users AS DOUBLE)
                   - p.theta * (CAST(v.vsx AS DOUBLE)
                                / CAST(v.n_users AS DOUBLE) - p.mx_pool))
                  * 10 + 0.5) AS BIGINT) AS mean_cuped_milli,
       CAST(floor(p.theta * 1e6 + 0.5) AS BIGINT) AS theta_ppm,
       p.var_reduction_ppm
FROM per_variant v CROSS JOIN pooled p
ORDER BY v.variant
"""


# --------------------------------------------------------------------
# per-day minimum detectable effect
# --------------------------------------------------------------------


def q_stats_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day minimum detectable absolute effect for the
    two-proportion z-test at α=0.05 (two-sided) and power 0.8:
    MDE = (z_α + z_β) · sqrt(2·p·(1−p) / n_min) with p the pooled
    purchase-user share and n_min the smaller variant's user count.

    Scale: one (day, variant) distinct-user aggregate, one day
    fold — no windows, no crosses; z-quantiles are embedded
    literals (docs/PARITY.md #9)."""
    ev = _t(spark, sf_dir, "events").select(
        F.date_format(F.col("ts"), "yyyy-MM-dd").alias("day"),
        "user_id",
        # when/otherwise(0), not a bool cast: NULL event_type must
        # flag 0 like the twin's CASE ELSE 0 (round-6 NULL trap);
        # value-equal here (sum/max skip NULLs) but the explicit
        # form can't regress under a future edit
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("purch"),
        F.when(ab_bucket_col() < 500, F.lit("a")).otherwise(F.lit("b")).alias("v"),
    )
    # per-(day, variant, user) max(purch) pre-aggregate, then plain
    # count/sum: two different-child countDistincts would plan a
    # RewriteDistinctAggregates Expand that doubles the event rows
    # through the largest aggregate (the tpch_q21ish review fix, r8)
    per_user = ev.groupBy("day", "v", "user_id").agg(
        F.max("purch").alias("purch")
    )
    per_dv = per_user.groupBy("day", "v").agg(
        F.count(F.lit(1)).alias("nu"),
        F.sum("purch").alias("np"),
    )
    per_day = per_dv.groupBy("day").agg(
        F.max(F.when(F.col("v") == "a", F.col("nu"))).alias("n_a"),
        F.max(F.when(F.col("v") == "b", F.col("nu"))).alias("n_b"),
        F.sum("nu").alias("nt"),
        F.sum("np").alias("pt"),
    )
    p = F.col("pt").cast("double") / F.col("nt").cast("double")
    nmin = F.least(F.col("n_a"), F.col("n_b")).cast("double")
    mde = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0) & (p > 0) & (p < 1),
        F.lit(_Z_ALPHA + _Z_BETA) * F.sqrt(F.lit(2.0) * p * (F.lit(1.0) - p) / nmin),
    )
    return per_day.select(
        "day",
        F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
        F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
        F.floor(p * 1e6 + 0.5).cast("long").alias("p_pool_ppm"),
        F.floor(mde * 1e6 + 0.5).cast("long").alias("mde_abs_ppm"),
    ).orderBy("day")


SQL_STATS_POWER_MDE = f"""
WITH ev AS (
  SELECT strftime(ts, '%Y-%m-%d') AS day, user_id,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS purch,
         CASE WHEN {SQL_AB_BUCKET} < 500
              THEN 'a' ELSE 'b' END AS v
  FROM events
),
per_dv AS (
  SELECT day, v, count(DISTINCT user_id) AS nu,
         count(DISTINCT CASE WHEN purch = 1 THEN user_id END) AS np
  FROM ev GROUP BY 1, 2
),
per_day AS (
  SELECT day,
         max(CASE WHEN v = 'a' THEN nu END) AS n_a,
         max(CASE WHEN v = 'b' THEN nu END) AS n_b,
         sum(nu) AS nt, sum(np) AS pt
  FROM per_dv GROUP BY day
)
SELECT day,
       CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
       CAST(coalesce(n_b, 0) AS BIGINT) AS n_b,
       CAST(floor(CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE) * 1e6 + 0.5)
            AS BIGINT) AS p_pool_ppm,
       CAST(floor(
         CASE WHEN n_a > 0 AND n_b > 0
               AND CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE) > 0
               AND CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE) < 1
              THEN {_Z_ALPHA + _Z_BETA!r}
                   * sqrt(2.0 * (CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE))
                          * (1.0 - CAST(pt AS DOUBLE) / CAST(nt AS DOUBLE))
                          / CAST(least(n_a, n_b) AS DOUBLE))
         END * 1e6 + 0.5) AS BIGINT) AS mde_abs_ppm
FROM per_day ORDER BY day
"""


# --------------------------------------------------------------------
# difference-in-differences
# --------------------------------------------------------------------


def q_events_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences over the hash-split variants and the
    epoch-midpoint pre/post split: DiD = (T_post − T_pre) −
    (C_post − C_pre) on per-event mean value.  One summary row with
    the four cell means (milli-units) and the estimate.

    Scale: one 1-row midpoint broadcast, one four-cell conditional
    aggregate folded to a single row — entirely map-side before the
    final fold."""
    ev = _t(spark, sf_dir, "events").select(
        F.unix_micros(F.col("ts")).alias("us"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        F.when(ab_bucket_col() < 500, F.lit(0)).otherwise(F.lit(1)).alias("treat"),
    )
    mid = epoch_mid(ev)
    cells = (
        ev.crossJoin(F.broadcast(mid))
        .select(
            "treat",
            (F.col("us") > F.col("mid_us")).cast("int").alias("post"),
            "cents",
        )
        .groupBy()
        .agg(
            *[
                agg
                for t in (0, 1)
                for p in (0, 1)
                for agg in (
                    F.sum(
                        F.when((F.col("treat") == t) & (F.col("post") == p), F.col("cents"))
                    ).alias(f"s{t}{p}"),
                    F.count(
                        F.when((F.col("treat") == t) & (F.col("post") == p), F.lit(1))
                    ).alias(f"n{t}{p}"),
                )
            ]
        )
    )

    def mean(t: int, p: int):
        return F.when(
            F.col(f"n{t}{p}") > 0,
            F.col(f"s{t}{p}").cast("double") / F.col(f"n{t}{p}").cast("double"),
        )

    did = (mean(1, 1) - mean(1, 0)) - (mean(0, 1) - mean(0, 0))
    return cells.select(
        F.col("n00").alias("n_ctl_pre"),
        F.col("n01").alias("n_ctl_post"),
        F.col("n10").alias("n_trt_pre"),
        F.col("n11").alias("n_trt_post"),
        F.floor(mean(0, 0) * 10 + 0.5).cast("long").alias("ctl_pre_milli"),
        F.floor(mean(0, 1) * 10 + 0.5).cast("long").alias("ctl_post_milli"),
        F.floor(mean(1, 0) * 10 + 0.5).cast("long").alias("trt_pre_milli"),
        F.floor(mean(1, 1) * 10 + 0.5).cast("long").alias("trt_post_milli"),
        F.floor(did * 10 + 0.5).cast("long").alias("did_milli"),
    )


SQL_EVENTS_DID_ESTIMATOR = f"""
WITH ev AS (
  SELECT epoch_us(ts) AS us,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         CASE WHEN {SQL_AB_BUCKET} < 500
              THEN 0 ELSE 1 END AS treat
  FROM events
),
{SQL_EPOCH_MID_CTE},
cells AS (
  SELECT
    CAST(sum(CASE WHEN treat = 0 AND us <= mid_us THEN cents END) AS BIGINT) AS s00,
    count(CASE WHEN treat = 0 AND us <= mid_us THEN 1 END) AS n00,
    CAST(sum(CASE WHEN treat = 0 AND us > mid_us THEN cents END) AS BIGINT) AS s01,
    count(CASE WHEN treat = 0 AND us > mid_us THEN 1 END) AS n01,
    CAST(sum(CASE WHEN treat = 1 AND us <= mid_us THEN cents END) AS BIGINT) AS s10,
    count(CASE WHEN treat = 1 AND us <= mid_us THEN 1 END) AS n10,
    CAST(sum(CASE WHEN treat = 1 AND us > mid_us THEN cents END) AS BIGINT) AS s11,
    count(CASE WHEN treat = 1 AND us > mid_us THEN 1 END) AS n11
  FROM ev CROSS JOIN mid
)
SELECT CAST(n00 AS BIGINT) AS n_ctl_pre, CAST(n01 AS BIGINT) AS n_ctl_post,
       CAST(n10 AS BIGINT) AS n_trt_pre, CAST(n11 AS BIGINT) AS n_trt_post,
       CAST(floor(CASE WHEN n00 > 0 THEN CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE) END * 10 + 0.5) AS BIGINT) AS ctl_pre_milli,
       CAST(floor(CASE WHEN n01 > 0 THEN CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE) END * 10 + 0.5) AS BIGINT) AS ctl_post_milli,
       CAST(floor(CASE WHEN n10 > 0 THEN CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE) END * 10 + 0.5) AS BIGINT) AS trt_pre_milli,
       CAST(floor(CASE WHEN n11 > 0 THEN CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE) END * 10 + 0.5) AS BIGINT) AS trt_post_milli,
       CAST(floor(((CASE WHEN n11 > 0 THEN CAST(s11 AS DOUBLE) / CAST(n11 AS DOUBLE) END
                    - CASE WHEN n10 > 0 THEN CAST(s10 AS DOUBLE) / CAST(n10 AS DOUBLE) END)
                   - (CASE WHEN n01 > 0 THEN CAST(s01 AS DOUBLE) / CAST(n01 AS DOUBLE) END
                      - CASE WHEN n00 > 0 THEN CAST(s00 AS DOUBLE) / CAST(n00 AS DOUBLE) END))
                  * 10 + 0.5) AS BIGINT) AS did_milli
FROM cells
"""


# --------------------------------------------------------------------
# diagonal Mahalanobis embedding outliers
# --------------------------------------------------------------------


def q_embed_outlier_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 embedding outliers by diagonal-covariance Mahalanobis
    distance: per-dim mean/variance from exact integer-grid sums, per
    vector D² = Σ_j (x_j − μ_j)² / σ²_j with each dim's term
    quantized to integer nano-units BEFORE the sum (integer sums are
    association-order independent — docs/PARITY.md #10), zero-variance
    dims contribute 0 on both engines.

    Scale: the dim stats are a 64-row aggregate collected into ONE
    broadcast row; scoring is then a map-side array fold per vector
    (no explode-regroup shuffle); top-20 is a TakeOrdered."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    grid = e.select(
        "vec_id", F.posexplode("v").alias("pos", "x")
    ).select("pos", F.floor(F.col("x") * 1e6 + 0.5).cast("long").alias("g6"))
    dims = grid.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("g6").alias("s6"),
        # decimal with the OPERAND cast first (review r8 convention:
        # g6² sits within a factor ~2 of the BIGINT edge per row);
        # the sum passes 2^63 near 1e7 vectors per dim either way
        F.sum(F.col("g6").cast("decimal(19,0)") * F.col("g6")).alias("ss"),
    )
    nd = F.col("n").cast("double")
    mu = F.col("s6").cast("double") / nd / 1e6
    var = (
        F.col("ss").cast("double") / nd
        - (F.col("s6").cast("double") / nd) * (F.col("s6").cast("double") / nd)
    ) / 1e12
    stats = dims.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", mu.alias("m")))),
            lambda r: r["m"],
        ).alias("mu"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", var.alias("w")))),
            lambda r: r["w"],
        ).alias("vr"),
    )
    scored = e.crossJoin(F.broadcast(stats)).select(
        "vec_id",
        "label",
        F.aggregate(
            # per-dim term capped at 1e6 BEFORE the nano scale-up
            # (review r8: a near-degenerate dim — tiny grid-quantized
            # variance under a huge outlier — otherwise overflows the
            # BIGINT floor and kills the query instead of ranking it;
            # the cap keeps each term <= 1e15 nano and the 64-dim sum
            # far inside BIGINT)
            F.expr(
                "transform(v, (x, i) -> CASE WHEN vr[i] > 0 THEN "
                "CAST(floor(least((x - mu[i]) * (x - mu[i]) / vr[i], 1e6) "
                "* 1e9 + 0.5) AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            ),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        ).alias("d2_nano"),
    )
    return scored.orderBy(F.desc("d2_nano"), "vec_id").limit(20)


SQL_EMBED_OUTLIER_MAHALANOBIS = """
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
grid AS (
  SELECT vec_id, generate_subscripts(v, 1) - 1 AS pos,
         unnest(v) AS x
  FROM e
),
g6 AS (
  SELECT vec_id, pos, x,
         CAST(floor(x * 1e6 + 0.5) AS BIGINT) AS g
  FROM grid
),
dims AS (
  SELECT pos, count(*) AS n,
         CAST(sum(g) AS BIGINT) AS s6,
         sum(g * g) AS ss
  FROM g6 GROUP BY pos
),
dstat AS (
  SELECT pos,
         CAST(s6 AS DOUBLE) / CAST(n AS DOUBLE) / 1e6 AS mu,
         (CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
          - (CAST(s6 AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(s6 AS DOUBLE) / CAST(n AS DOUBLE))) / 1e12 AS vr
  FROM dims
),
scored AS (
  SELECT g.vec_id,
         CAST(sum(CASE WHEN d.vr > 0 THEN
                  CAST(floor(least((g.x - d.mu) * (g.x - d.mu) / d.vr, 1e6)
                             * 1e9 + 0.5) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS d2_nano
  FROM g6 g JOIN dstat d USING (pos)
  GROUP BY g.vec_id
)
SELECT e.vec_id, e.label, s.d2_nano
FROM scored s JOIN e ON e.vec_id = s.vec_id
ORDER BY s.d2_nano DESC, e.vec_id
LIMIT 20
"""


# --------------------------------------------------------------------
# Laspeyres / Paasche / Fisher price indexes
# --------------------------------------------------------------------


def q_orders_price_index_laspeyres(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price indexes per ship year against the base (first) year:
    Laspeyres (base-year quantity weights), Paasche (current-year
    weights), Fisher (geometric mean) — over parts present in both
    the year and the base year (inner join), so composition shifts
    don't masquerade as price moves.

    Every cross-part sum is quantized to integer centi-units before
    aggregation (order-independent — docs/PARITY.md #10); per-part
    average prices are exact-integer ratios evaluated identically on
    both engines.  The base year index is exactly 1e6 by construction
    (sanity anchor).

    Scale: one (year, part) aggregate, one broadcast base-year frame
    keyed by part (bounded by part cardinality), one year fold."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.year("l_shipdate").alias("yr"),
        F.col("l_partkey").alias("pk"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("epc"),
        F.floor(F.col("l_quantity") * 100 + 0.5).cast("long").alias("qc"),
    )
    yp = li.groupBy("yr", "pk").agg(
        F.sum("epc").alias("spc"), F.sum("qc").alias("sq")
    ).filter(F.col("sq") > 0)
    base_yr = yp.agg(F.min("yr").alias("b"))
    base = (
        yp.join(F.broadcast(base_yr), F.col("yr") == F.col("b"))
        .select(
            F.col("pk").alias("bpk"),
            (F.col("spc").cast("double") / F.col("sq").cast("double")).alias("p0"),
            F.col("sq").alias("q0"),
        )
    )
    pt = F.col("spc").cast("double") / F.col("sq").cast("double")
    joined = yp.join(base, F.col("pk") == F.col("bpk")).select(
        "yr",
        # integer centi-unit terms: price (cents-scale double) times
        # quantity-cents, floored — exact-int sums in any order
        F.floor(pt * F.col("q0").cast("double") + 0.5).cast("long").alias("l_num"),
        F.floor(F.col("p0") * F.col("q0").cast("double") + 0.5).cast("long").alias("l_den"),
        F.floor(pt * F.col("sq").cast("double") + 0.5).cast("long").alias("p_num"),
        F.floor(F.col("p0") * F.col("sq").cast("double") + 0.5).cast("long").alias("p_den"),
    )
    yrs = joined.groupBy("yr").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("l_num").alias("ln"),
        F.sum("l_den").alias("ld"),
        F.sum("p_num").alias("pn"),
        F.sum("p_den").alias("pd"),
    )
    # all-zero-price denominators are an ANSI throw on Spark and a
    # NaN-cast error on DuckDB (review r8) — NULL index on both
    lr = F.when(
        F.col("ld") > 0,
        F.col("ln").cast("double") / F.col("ld").cast("double"),
    )
    pr = F.when(
        F.col("pd") > 0,
        F.col("pn").cast("double") / F.col("pd").cast("double"),
    )
    return yrs.select(
        "yr",
        "n_parts",
        F.floor(lr * 1e6 + 0.5).cast("long").alias("laspeyres_ppm"),
        F.floor(pr * 1e6 + 0.5).cast("long").alias("paasche_ppm"),
        F.floor(F.sqrt(lr * pr) * 1e6 + 0.5).cast("long").alias("fisher_ppm"),
    ).orderBy("yr")


SQL_ORDERS_PRICE_INDEX_LASPEYRES = """
WITH li AS (
  SELECT year(l_shipdate) AS yr, l_partkey AS pk,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS epc,
         CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS qc
  FROM lineitem
),
yp AS (
  SELECT yr, pk, CAST(sum(epc) AS BIGINT) AS spc, CAST(sum(qc) AS BIGINT) AS sq
  FROM li GROUP BY 1, 2 HAVING sum(qc) > 0
),
base_yr AS (SELECT min(yr) AS b FROM yp),
base AS (
  SELECT pk AS bpk,
         CAST(spc AS DOUBLE) / CAST(sq AS DOUBLE) AS p0,
         sq AS q0
  FROM yp JOIN base_yr ON yr = b
),
joined AS (
  SELECT yr,
         CAST(floor(CAST(spc AS DOUBLE) / CAST(sq AS DOUBLE)
                    * CAST(q0 AS DOUBLE) + 0.5) AS BIGINT) AS l_num,
         CAST(floor(p0 * CAST(q0 AS DOUBLE) + 0.5) AS BIGINT) AS l_den,
         CAST(floor(CAST(spc AS DOUBLE) / CAST(sq AS DOUBLE)
                    * CAST(sq AS DOUBLE) + 0.5) AS BIGINT) AS p_num,
         CAST(floor(p0 * CAST(sq AS DOUBLE) + 0.5) AS BIGINT) AS p_den
  FROM yp JOIN base ON pk = bpk
),
yrs AS (
  SELECT yr, count(*) AS n_parts,
         CAST(sum(l_num) AS BIGINT) AS ln, CAST(sum(l_den) AS BIGINT) AS ld,
         CAST(sum(p_num) AS BIGINT) AS pn, CAST(sum(p_den) AS BIGINT) AS pd
  FROM joined GROUP BY yr
)
SELECT yr, CAST(n_parts AS BIGINT) AS n_parts,
       CAST(CASE WHEN ld > 0 THEN
            floor(CAST(ln AS DOUBLE) / CAST(ld AS DOUBLE) * 1e6 + 0.5)
            END AS BIGINT) AS laspeyres_ppm,
       CAST(CASE WHEN pd > 0 THEN
            floor(CAST(pn AS DOUBLE) / CAST(pd AS DOUBLE) * 1e6 + 0.5)
            END AS BIGINT) AS paasche_ppm,
       CAST(CASE WHEN ld > 0 AND pd > 0 THEN
            floor(sqrt(CAST(ln AS DOUBLE) / CAST(ld AS DOUBLE)
                       * CAST(pn AS DOUBLE) / CAST(pd AS DOUBLE)) * 1e6 + 0.5)
            END AS BIGINT) AS fisher_ppm
FROM yrs ORDER BY yr
"""


QUERIES: dict[str, QuerySpec] = {
    "stats_spearman": QuerySpec(q_stats_spearman, SQL_STATS_SPEARMAN),
    "sample_stratified_neyman": QuerySpec(
        q_sample_stratified_neyman, SQL_SAMPLE_STRATIFIED_NEYMAN
    ),
    "stats_cuped": QuerySpec(q_stats_cuped, SQL_STATS_CUPED),
    "stats_power_mde": QuerySpec(q_stats_power_mde, SQL_STATS_POWER_MDE),
    "events_did_estimator": QuerySpec(
        q_events_did_estimator, SQL_EVENTS_DID_ESTIMATOR
    ),
    "embed_outlier_mahalanobis": QuerySpec(
        q_embed_outlier_mahalanobis, SQL_EMBED_OUTLIER_MAHALANOBIS
    ),
    "orders_price_index_laspeyres": QuerySpec(
        q_orders_price_index_laspeyres, SQL_ORDERS_PRICE_INDEX_LASPEYRES
    ),
}
